"""Scaled measurement of the core ETL build chain (SCALE.md round 8):
map -> reconcile -> closure -> mint -> reidentify -> merge -> edges at
1M-3M records — the reference's actual core loop, last scaled at
10x/300k records in round 5.

Corpus: the round-5 protocol — two pseudo-sources, one Person record per
customer of the scaled SF directory, srcA asserting equivalence to
srcB's twin, so every equivalence component is exactly a pair and the
build's invariants are checkable in O(1): merged == n_cust, every yuid
covers exactly 2 qua-uris.

Stages are timed SEPARATELY with a localCheckpoint barrier between them
(the production shape: each tier is a persisted table downstream stages
READ — timing the composed lazy plan would bill every stage to the last
count).  Reports per-stage seconds, closure round count, the largest
merge group, ms/record, and idle canaries at both ends.

Usage:
    python tools/measure_etl_scale.py /tmp/sf1x30
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _spin(iters: int = 2_000_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i
    _ = acc
    return round(time.perf_counter() - t0, 3)


def _records(spark, sf_dir: str):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    key = F.col("c_custkey").cast("string")
    a = cust.select(
        F.lit("srcA").alias("source"),
        key.alias("identifier"),
        F.lit("Person").alias("rectype"),
        F.lit("2026-01-01T00:00:00").alias("record_time"),
        F.lit("create").alias("change"),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcA/"), key).alias("id"),
                F.lit("Person").alias("type"),
                F.col("c_name").alias("_label"),
                F.array(
                    F.struct(
                        F.concat(F.lit("https://fixture.test/srcB/"), key).alias("id"),
                        F.lit("Person").alias("type"),
                    )
                ).alias("equivalent"),
            )
        ).alias("data"),
    )
    b = cust.select(
        F.lit("srcB").alias("source"),
        key.alias("identifier"),
        F.lit("Person").alias("rectype"),
        F.lit("2026-01-01T00:00:00").alias("record_time"),
        F.lit("create").alias("change"),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcB/"), key).alias("id"),
                F.lit("Person").alias("type"),
                F.concat(F.col("c_name"), F.lit(" (b)")).alias("_label"),
            )
        ).alias("data"),
    )
    return a.unionByName(b)


def main(sf_dir: str) -> None:
    sys.path.insert(0, "/root/repo")
    from data_pipeline_spark.pipeline.closure import connected_components  # noqa: F401
    from data_pipeline_spark.pipeline.edges import extract_edges
    from data_pipeline_spark.pipeline.envelope import with_doc
    from data_pipeline_spark.pipeline.idmap import build_idmap
    from data_pipeline_spark.pipeline.merge_records import merge_by_yuid
    from data_pipeline_spark.pipeline.reconcile import reconcile
    from data_pipeline_spark.pipeline.reidentify import reidentify

    canary_start = _spin()
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    e = spark.createDataFrame
    indexes = {
        "name_index": e([], "source string, name_clean string, target_identifier string, rectype string"),
        "uri_index": e([], "source string, ext_uri string, target_identifier string, rectype string"),
        "same_as": e([], "uri_a string, uri_b string"),
        "different_from": e([], "uri_a string, uri_b string"),
    }

    stages: dict[str, float] = {}

    def stage(name: str, df):
        t0 = time.perf_counter()
        out = df.localCheckpoint()
        n = out.count()
        stages[name] = round(time.perf_counter() - t0, 1)
        return out, n

    recs, n_recs = stage("map", _records(spark, sf_dir))

    equiv_edges, n_edges = stage("reconcile", reconcile(recs, indexes))

    all_uris = with_doc(recs).select(
        F.coalesce(F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri")
    )
    # closure + mint together (build_idmap runs the CC internally);
    # round count re-derived below from a separate CC call on the edges
    idmap, n_idmap = stage("closure_mint", build_idmap(equiv_edges, all_uris))

    reident, _ = stage(
        "reidentify",
        reidentify(recs.select("source", "identifier", "rectype", "data"), idmap),
    )
    merged, n_merged = stage(
        "merge",
        merge_by_yuid(
            reident.select("yuid", "source", "identifier", "data"),
            {"srcA": 0, "srcB": 1},
        ),
    )
    edges_out, n_out_edges = stage("edges", extract_edges(merged))

    # invariants (the pair-component contract)
    n_cust = n_recs // 2
    bad_sizes = idmap.groupBy("yuid").count().filter(F.col("count") != 2).count()
    max_merge_group = (
        reident.groupBy("yuid").count().agg(F.max("count")).collect()[0][0]
    )
    cc_stats: dict = {}
    connected_components(
        equiv_edges, src="src_uri", dst="dst_uri", stats=cc_stats
    ).count()

    total = round(sum(stages.values()), 1)
    canary_end = _spin()
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_records": n_recs,
        "stages_sec": stages,
        "total_sec": total,
        "ms_per_record": round(1000 * total / n_recs, 3),
        "closure_rounds": cc_stats.get("rounds"),
        # size routing: 'local' while the edge set fits
        # spark.sql.autoBroadcastJoinThreshold, 'star' above it
        "closure_routed_to": cc_stats.get("algorithm"),
        "max_merge_group": max_merge_group,
        "invariants_ok": (n_merged == n_cust and bad_sizes == 0),
        "n_equiv_edges": n_edges,
        "n_idmap": n_idmap,
        "n_extracted_edges": n_out_edges,
        "canary_spin_sec": {"start": canary_start, "end": canary_end},
    }))


if __name__ == "__main__":
    main(sys.argv[1])
