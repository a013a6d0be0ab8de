"""Scaled measurement of the v07 IVF-PQ ANN serving path against its two
ancestors — flat PQ-ADC (v06: full-corpus code scan) and brute force —
phase-split and interleaved exactly like tools/measure_pq.py (warm-up
first, then alternating arms; spin canary at both ends).

What this isolates: v06's measurement already showed the PQ code scan
beats reading full vectors; the open question v07 answers is what the
IVF pruning buys ON TOP — the ADC rank scans nprobe/n_clusters of the
codes instead of all of them, at the price of probe-miss recall.  The
serving arms share the interleave so JVM/page-cache warm-up cannot favor
either; each arm uses its own prebuilt materialized index (the
persisted-index stand-in, same convention as measure_pq).

Parameters are the production-shaped ones, not the declared-gate ones:
the v07 GATE pins 16 clusters / nprobe 4 because its oracle replays the
full Lloyd loop in SQL; here the corpus is 60k-200k vectors, so the
coarse quantizer uses n_clusters=64, nprobe=8 (12.5% scan fraction) and
rerank=50 — the levers the recall test (test_operators.py) documents.

Usage:
    python tools/measure_ivfpq.py /tmp/sf1x30 [n_repeats]
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

_N_QUERIES = 200
_K = 5
_RERANK = 50
_N_CLUSTERS = 64
_NPROBE = 8


def _spin(iters: int = 2_000_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i
    _ = acc
    return round(time.perf_counter() - t0, 3)


def main(sf_dir: str, n_repeats: int = 2) -> None:
    sys.path.insert(0, "/root/repo")
    from data_pipeline_spark.operators.similarity import (
        ivf_pq_index,
        knn_bruteforce,
        knn_ivf_pq,
        knn_pq_adc,
        pq_index,
        vector_norms,
    )

    canary_start = _spin()
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .getOrCreate()
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    n_vecs = emb.count()
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb")
    ).repartition(32, "neighbor_id")

    # warm-up (not recorded)
    knn_ivf_pq(
        queries.limit(5), corpus.limit(2000), k=_K, n_clusters=8, nprobe=2
    ).count()

    # phase 1a: flat-PQ index build (train + encode + norms, materialized)
    t0 = time.perf_counter()
    cb, codes = pq_index(corpus, materialize=True)
    flat_index = (
        cb,
        codes,
        vector_norms(corpus, "neighbor_id", "nemb").localCheckpoint(),
    )
    sec_flat_index = round(time.perf_counter() - t0, 1)

    # phase 1b: IVF-PQ index build (coarse k-means + residual PQ + entries)
    t0 = time.perf_counter()
    ivf_index = ivf_pq_index(corpus, n_clusters=_N_CLUSTERS)
    sec_ivf_index = round(time.perf_counter() - t0, 1)

    def run_bf():
        return knn_bruteforce(queries, corpus, k=_K).collect()

    def run_flat():
        return knn_pq_adc(
            queries, corpus, k=_K, rerank=_RERANK, index=flat_index
        ).collect()

    def run_ivf():
        return knn_ivf_pq(
            queries, corpus, k=_K, nprobe=_NPROBE, rerank=_RERANK, index=ivf_index
        ).collect()

    # phase 2: interleaved serve repeats
    runs: dict[str, list[float]] = {"bruteforce": [], "pq_flat": [], "ivf_pq": []}
    results: dict[str, list] = {}
    for _ in range(n_repeats):
        for name, fn in (
            ("bruteforce", run_bf),
            ("pq_flat", run_flat),
            ("ivf_pq", run_ivf),
        ):
            t0 = time.perf_counter()
            rows = fn()
            runs[name].append(round(time.perf_counter() - t0, 1))
            results[name] = rows

    truth = {(r.query_id, r.neighbor_id) for r in results["bruteforce"]}
    recall = {
        name: round(
            len(truth & {(r.query_id, r.neighbor_id) for r in results[name]})
            / len(truth),
            3,
        )
        for name in ("pq_flat", "ivf_pq")
    }

    canary_end = _spin()
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_vecs": n_vecs,
                "n_queries": _N_QUERIES,
                "k": _K,
                "rerank": _RERANK,
                "n_clusters": _N_CLUSTERS,
                "nprobe": _NPROBE,
                "scan_fraction": _NPROBE / _N_CLUSTERS,
                "sec_index_build": {
                    "pq_flat": sec_flat_index,
                    "ivf_pq": sec_ivf_index,
                },
                "runs_sec": runs,
                "recall_at_5": recall,
                "canary_spin_sec": {"start": canary_start, "end": canary_end},
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 2)
