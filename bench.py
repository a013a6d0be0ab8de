#!/usr/bin/env python
"""Benchmark harness: runs the headline declared queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query value is the MEDIAN across $SPARK_GRAFT_BENCH_REPS (default
3) whole-suite passes (tier memos cleared between passes) — steady
state, not the first-execution envelope; the raw samples ship in the
"reps" key and the canary pair ("canary_spin_sec"/"canary_spark_sec")
stays the cross-round host normalizer (SCALE.md, 'Bench measurement
protocol').
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_spark.queries import QUERIES  # noqa: E402
from data_pipeline_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family (scan/filter/join/agg/window/setop/
# text/dedup/vector/cdc/dsl) — the queries a user would actually run hot.
# SCALE-PATH ONLY: d06 (exact n-gram Jaccard) is deliberately NOT here —
# it is the quadratic correctness twin of d07 and stays an oracle-gated
# query at test SF; the headline measures what a 100TB run would execute
# (banded/bucketed dedup d07/d08/d12, composition d13).
HEADLINE = [
    "q01_pricing_summary",
    "q02_shipping_priority",
    "q03_order_priority_count",
    "q04_local_supplier_volume",
    "q05_revenue_forecast",
    "q06_customer_order_distribution",
    "q09_product_profit_by_nation",
    "q10_returned_item_losses",
    "q18_large_orders",
    "w03_first_lineitem_per_order",
    "w06_top10_orders",
    "a13_event_types_per_user",
    "t02_customers_without_orders",
    "p04_date_proximity_pairs",
    "a16_top5_words",
    "d01_dedup_exact",
    "d05_lang_id",
    "d15_repetition_ratio",
    "d07_minhash_lsh_pairs",
    "d08_simhash_pairs",
    "d12_dedup_groups",
    "d13_corpus_clean",
    # r15 additions: the importance-selection family (hashed-feature
    # distribution joins — a curation shape none of the other headline
    # entries exercise) and the ANN evaluation composition (IVF + exact
    # side by side — a serving-quality regression is as real as a wall
    # regression).
    "d55_dsir_importance",
    "v09_ann_recall_eval",
    # r15: the CCNet-shaped LM fluency bucketing — three broadcast LM
    # joins over a bigram explode, the reference-model scoring shape
    # (distinct from d55's hashed-feature distributions).
    "d56_lm_fluency_buckets",
    "v01_knn_bruteforce",
    "r01_watermark_window_counts",
    "dsl_q01_customers_in_germany",
    "dsl_q05_parts_in_german_orders",
    # serving path: the same traversal class over the PERSISTED bucketed
    # dual-layout model (inverse hop over the lineitem-scale contains
    # edges — the worst scaler at 30x before the bucketed layout landed;
    # VERDICT r11 #4). The one-time model materialization is pre-warmed
    # below with the other planner warm-up — production serves thousands
    # of queries per materialization, so the bench measures the query.
    "dsl_q13_bucketed_serving_inverse",
    # the composite ETL chain (map->reconcile->closure->mint->reidentify->
    # merge) at SF scale — the engine's core deliverable, benched so a
    # chain regression is as loud as a query regression (VERDICT r10 #1).
    # Runs LAST with its own pre-canary: it's the most expensive entry,
    # and the bracket isolates host contention from chain drift.
    "b01_entity_build",
    # the extraction/export half (edges tier -> N-Triples) — the
    # reference's export phase is a full fourth of its build
    # (run-export.py:48-69); b01's merged-tier lineage never executes
    # extract_edges/to_ntriples, so an explode blowup there was
    # driver-invisible until this row (VERDICT r11 #1).
    "b02_entity_export",
]


def _spin_canary(iters: int = 2_000_000) -> float:
    """Fixed CPU-bound spin loop; its wall-clock is a host-contention
    canary. On an idle host this is stable run-to-run, so a 2x jump
    between rounds on identical plans indicates the bench host was
    contended, not that the plans regressed (see SCALE.md, 'Bench
    measurement protocol')."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i
    _ = acc
    return round(time.perf_counter() - t0, 3)


def _spark_canary(spark) -> float:
    """Fixed tiny Spark job (codegen'd sum over a synthetic range): its
    wall-clock isolates JVM/session health — GC pressure, scheduler lag,
    codegen-cache state — which the CPU spin canary cannot see.  Round
    12 observed identical plans running 2-4x slower with CLEAN spin
    canaries (b01 9.6-41 s run-to-run); this canary attributes that
    class of drift to the JVM, not the plans."""
    t0 = time.perf_counter()
    spark.range(2_000_000).selectExpr("sum(id * 2)").collect()
    return round(time.perf_counter() - t0, 3)


def warm_up(spark, sf_dir: str) -> None:
    """Everything bench.py runs before its timed loop: the parquet
    footer read, the DSL serving-model materialization, and one
    synthetic shuffle+join+window job (tools/measure.py imports it so
    both harnesses start their timed region from the same state)."""
    # warm the JVM + parquet footers once so per-query numbers measure the
    # query, not session startup
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    # Materialize the DSL serving model OUTSIDE the timed loop: it is the
    # one-time persistent build (plans.model.serving_planner) that every
    # dsl query then reads; without this it gets charged to whichever DSL
    # query happens to run first, so a contended host can inflate that
    # query's number arbitrarily (observed: dsl_q01 19.3s driver vs 3.1s
    # idle-host on identical plans).
    from data_pipeline_spark.plans.model import serving_planner

    serving_planner(spark, sf_dir)

    # Steady-state warm-up (VERDICT r13 #4): the first few timed queries
    # were absorbing one-time JVM costs — codegen-cache population for the
    # exchange/sort/aggregate/join operator stack, scheduler/stage-
    # submission paths, shuffle machinery init — inflating whichever
    # queries ran first (r13: start canary 0.591 vs end 0.264, all large
    # movers front-of-suite on untouched bodies).  One synthetic
    # shuffle+join+window job exercises those paths WITHOUT executing any
    # headline plan, so the timed loop measures steady state and no query
    # gets a pre-warmed body.
    wu = spark.range(500_000).selectExpr("id", "id % 97 AS k", "id % 13 AS g")
    (
        wu.groupBy("k").agg({"id": "sum"})
        .join(wu.groupBy("g").count().withColumnRenamed("g", "k"), "k", "left")
        .selectExpr("k", "count", "row_number() OVER (ORDER BY k) AS rn")
        .count()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    canary_start = _spin_canary()
    spark = get_spark("bench")
    warm_up(spark, sf_dir)

    spark_canary_start = _spark_canary(spark)

    # Steady-state measurement (VERDICT r14 #1): the WHOLE SUITE runs
    # REPS times and the artifact records the per-query MEDIAN across
    # passes.  A raw single sample conflates the plan with the host
    # envelope — measured first executions carry 1.3-3x one-time
    # codegen/stage cost (q04 6-rep: 5.36, 1.81, 1.69, 1.46, 1.56, 1.38)
    # and the host's JVM-op unit cost moved +-25% across rounds while
    # plan snapshots were pinned unchanged — so the driver's 2x
    # regression contract was reading noise.  Whole-suite passes, NOT
    # per-query back-to-back reps: the dedup tier memo (queries/dedup.py
    # _TIER_CACHE — the production stand-in for persisted tiers that
    # d07 builds and d12/d13 read) would otherwise serve rep 2+ of d07
    # from rep 1's checkpoint and the "median" would measure a memo
    # probe (0.07 s) instead of the plan (~2 s).  Clearing the memo
    # between passes keeps every query's semantics exactly what the
    # r1-r14 single-shot history measured: d07 cold-tier, d12/d13
    # memo-fed.  Raw samples ship in the "reps" side-channel so a drift
    # analysis never needs to re-run the suite; JSON shape is unchanged
    # ("queries" still maps name -> one number, now the median; "value"
    # is still their sum).
    reps_n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    reps: dict[str, list[float]] = {n: [] for n in HEADLINE}
    canary_pre_b01 = None
    spark_canary_pre_b01 = None
    for rep in range(reps_n):
        if rep:
            # ONLY the dedup tier memo resets between passes; the DSL
            # serving model is persisted once, outside the timed loop
            # (production serves thousands of queries per
            # materialization).
            from data_pipeline_spark.queries.dedup import clear_tier_cache

            clear_tier_cache()
        for name in HEADLINE:
            if name == "b01_entity_build" and rep == reps_n - 1:
                # bracket the most expensive entry on the LAST (steady)
                # pass — the scalar canary fields keep their r12+ shape
                canary_pre_b01 = _spin_canary()
                spark_canary_pre_b01 = _spark_canary(spark)
            q = QUERIES[name]
            t0 = time.perf_counter()
            df = q.spark_fn(spark, sf_dir)
            n = df.count()
            reps[name].append(round(time.perf_counter() - t0, 3))
            _ = n
    # statistics.median, not sorted(s)[len//2]: the upper-middle pick
    # biases even rep counts high (review catch — the 6-rep drift
    # protocol uses even counts)
    per_query = {
        n: round(statistics.median(s), 3) for n, s in reps.items()
    }
    total = round(sum(per_query.values()), 3)
    canary_end = _spin_canary()
    spark_canary_end = _spark_canary(spark)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "canary_spin_sec": {
                    "start": canary_start,
                    "pre_b01": canary_pre_b01,
                    "end": canary_end,
                },
                "canary_spark_sec": {
                    "start": spark_canary_start,
                    "pre_b01": spark_canary_pre_b01,
                    "end": spark_canary_end,
                },
                "reps": reps,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
