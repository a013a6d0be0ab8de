"""Adversarial-shape scaling of the entity build chain (SCALE.md round 10).

The round-8/9 ETL scale protocol proved throughput on UNIFORM pairs
(closure rounds = 2, max merge group = 2).  Real reconciliation has heavy
tails — the reference bounds its per-record BFS at max_distance=3 exactly
because of this shape (/root/reference/docs/sample_config/base.json:6,
process/collector.py:201-218).  This tool plants that shape and runs the
REAL chain (reconcile -> closure -> mint -> reidentify -> merge):

- uniform pair base (volume): srcA/srcB twins per customer, as before;
- CHAIN components of sizes 10 / 100 / 5,000 (srcC): the worst case for
  label propagation — a 5,000-link chain is ~5,000 naive rounds; the
  closure must close it in O(log n);
- a CELEBRITY plant (srcD): ``n_celeb`` records sharing one hot name that
  the name index maps to a single target — the J1 join fans them all to
  one hub, producing a ~n_celeb-member star component and a ~n_celeb-record
  merge group.  reconcile runs with broadcast_index=False so the hot
  (name_clean, rectype) key exercises operators/skew.salted_join on the
  real path, not just the a20 equality proof;
- both closure routes timed on the SAME adversarial edge set: the default
  (local gather when the edge set fits the broadcast threshold) and the
  distributed star rounds (threshold -1).

Invariants asserted (not just timed): component sizes are exactly the
planted 2/10/100/5000/(n_celeb+1) multiset, the max merge group is the
celebrity group, and both closure routes agree on the component count.

Usage:
    python tools/measure_etl_adversarial.py /tmp/sf1x30 [n_celeb]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

CHAIN_PLANTS = [(10, 1000), (100, 100), (5000, 2)]  # (size, n_components)


def _spin(iters: int = 2_000_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i
    _ = acc
    return round(time.perf_counter() - t0, 3)


def _pair_records(spark, sf_dir: str):
    """The round-5/8 uniform-pair base: every component is exactly a pair."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name"
    )
    key = F.col("c_custkey").cast("string")
    a = cust.select(
        F.lit("srcA").alias("source"),
        key.alias("identifier"),
        F.lit("Person").alias("rectype"),
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
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcB/"), key).alias("id"),
                F.lit("Person").alias("type"),
                F.concat(F.col("c_name"), F.lit(" (b)")).alias("_label"),
            )
        ).alias("data"),
    )
    return a.unionByName(b)


def _chain_records(spark):
    """srcC chain plants: for each (size, n) bundle, records 0..size*n-1
    with rn -> rn+1 links except across component boundaries."""
    parts = []
    base = 0
    for size, n in CHAIN_PLANTS:
        rng = spark.range(size * n).select(
            (F.col("id") + base).alias("rn"), (F.col("id") % size).alias("pos")
        )
        id8 = F.lpad(F.col("rn").cast("string"), 10, "0")
        next_id8 = F.lpad((F.col("rn") + 1).cast("string"), 10, "0")
        uri = F.concat(F.lit("https://fixture.test/srcC/"), id8)
        next_uri = F.concat(F.lit("https://fixture.test/srcC/"), next_id8)
        data = F.to_json(
            F.struct(
                uri.alias("id"),
                F.lit("Person").alias("type"),
                F.concat(F.lit("C"), F.col("rn").cast("string")).alias("_label"),
                F.when(
                    F.col("pos") < size - 1,
                    F.array(
                        F.struct(next_uri.alias("id"), F.lit("Person").alias("type"))
                    ),
                ).alias("equivalent"),
            )
        )
        parts.append(
            rng.select(
                F.lit("srcC").alias("source"),
                id8.alias("identifier"),
                F.lit("Person").alias("rectype"),
                data.alias("data"),
            )
        )
        base += size * n
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _celebrity_records(spark, n_celeb: int):
    """srcD: n_celeb records all named the same; the name index maps the
    hot clean name to srcE/T1, so J1 fans every one of them to one hub."""
    id8 = F.lpad(F.col("id").cast("string"), 10, "0")
    data = F.to_json(
        F.struct(
            F.concat(F.lit("https://fixture.test/srcD/"), id8).alias("id"),
            F.lit("Person").alias("type"),
            F.lit("Celebrity Q Smith").alias("_label"),
        )
    )
    return spark.range(n_celeb).select(
        F.lit("srcD").alias("source"),
        id8.alias("identifier"),
        F.lit("Person").alias("rectype"),
        data.alias("data"),
    )


def main(sf_dir: str, n_celeb: int = 20_000) -> None:
    sys.path.insert(0, "/root/repo")
    from data_pipeline_spark.pipeline.closure import connected_components
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
    # the name index is NOT broadcast-small in this protocol: 50k curated
    # entries + the one hot celebrity entry (maps to srcE/T1)
    filler = spark.range(50_000).select(
        F.lit("srcE").alias("source"),
        F.concat(F.lit("filler name "), F.col("id").cast("string")).alias("name_clean"),
        F.concat(F.lit("F"), F.col("id").cast("string")).alias("target_identifier"),
        F.lit("Person").alias("rectype"),
    )
    hot = e(
        [("srcE", "celebrity q smith", "T1", "Person")],
        "source string, name_clean string, target_identifier string, rectype string",
    )
    indexes = {
        "name_index": filler.unionByName(hot),
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

    recs_df = (
        _pair_records(spark, sf_dir)
        .unionByName(_chain_records(spark))
        .unionByName(_celebrity_records(spark, n_celeb))
    )
    recs, n_recs = stage("map", recs_df)

    equiv_edges, n_edges = stage(
        "reconcile_salted", reconcile(recs, indexes, broadcast_index=False)
    )

    all_uris = with_doc(recs).select(
        F.coalesce(F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri")
    )
    idmap, n_idmap = stage("closure_mint", build_idmap(equiv_edges, all_uris))

    reident, _ = stage(
        "reidentify",
        reidentify(recs.select("source", "identifier", "rectype", "data"), idmap),
    )
    merged, n_merged = stage(
        "merge",
        merge_by_yuid(
            reident.select("yuid", "source", "identifier", "data"),
            {"srcA": 0, "srcB": 1, "srcC": 2, "srcD": 3},
        ),
    )

    # ---- invariants: the component-size multiset is exactly the plant ----
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    sizes = (
        idmap.groupBy("yuid")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    size_hist = {int(r["sz"]): int(r["n"]) for r in sizes}
    expected = {2: n_cust, n_celeb + 1: 1}
    for size, n in CHAIN_PLANTS:
        expected[size] = expected.get(size, 0) + n
    invariants_ok = size_hist == expected
    max_merge_group = (
        reident.groupBy("yuid").count().agg(F.max("count")).collect()[0][0]
    )

    # ---- both closure routes on the SAME adversarial edge set ----
    # default: size-routed by spark.sql.autoBroadcastJoinThreshold (local
    # gather when the edge set fits); -1 forces the distributed star path
    closure_cmp: dict[str, dict] = {}
    n_comp = {}
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for route, threshold in (("default", prev_threshold), ("star", "-1")):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        st: dict = {}
        t0 = time.perf_counter()
        comps = connected_components(
            equiv_edges, src="src_uri", dst="dst_uri", stats=st
        )
        n_comp[route] = comps.select("component").distinct().count()
        closure_cmp[route] = {
            "sec": round(time.perf_counter() - t0, 1),
            "rounds": st.get("rounds"),
            "routed_to": st.get("algorithm"),
        }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
    algos_agree = len(set(n_comp.values())) == 1

    total = round(sum(stages.values()), 1)
    canary_end = _spin()
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_records": n_recs,
        "n_celeb": n_celeb,
        "chain_plants": CHAIN_PLANTS,
        "stages_sec": stages,
        "total_sec": total,
        "ms_per_record": round(1000 * total / n_recs, 3),
        "closure_algorithms": closure_cmp,
        "n_components": n_comp,
        "algorithms_agree": algos_agree,
        "max_merge_group": max_merge_group,
        "invariants_ok": invariants_ok,
        "size_hist": {str(k): v for k, v in sorted(size_hist.items())},
        "n_equiv_edges": n_edges,
        "n_idmap": n_idmap,
        "n_merged": n_merged,
        "canary_spin_sec": {"start": canary_start, "end": canary_end},
    }))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 20_000)
