"""Shared-index rebucket scale protocol (round 15): ``rebucket_index``
measured at corpus scale.  Entity state and the shared indexes run the
same store rebucket (``index_util.rebucket_base``, one per tier), so this
protocol prices both; ``rebucket_state`` was last measured on its own at
100x in round 14, before the two stores were one.

No declared query covers this: ``rebucket_index`` is an operator-run
maintenance rewrite of a persisted index directory, not a query over an
SF directory, so ``tools/measure.py`` cannot time it; the tests check its
lifecycle only at a few hundred rows.

``rebucket_index`` is deliberately O(tier) — init-shaped, like the
rebuild it replaces — so the claim under measurement is NOT flatness;
it is the operational envelope an operator needs before running it:

- **trigger**: ``index_stats`` bucket_bytes_max before/after against
  the ~128 MB file-group rule;
- **wall + bytes**: the full 1024 -> 2048 rewrite per tier (the honest
  O(tier) cost), with bucket_bytes_max halving as the payoff;
- **no-straddle**: a COMMITTED batch dir pending through the rebucket
  is untouched, and the next ``compact_index`` folds it partially at
  the NEW count (folds re-derive buckets from the meta at fold time);
- **crash drill at scale**: a rebucket's replace_all plan persisted,
  process "dies" before apply — ``repair_index_dir`` must finish the
  whole-base swap, verified by meta + row counts.

Usage:
    python tools/measure_index_rebucket.py /tmp/sf1x30
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from measure import bench
from pyspark.sql import functions as F

BUCKETS = 1024


def main(sf_dir: str) -> None:
    from data_pipeline_spark.queries.dedup import (
        bands_df,
        minhash_signatures,
        shingles_df,
    )
    from data_pipeline_spark.streaming.dedup_stream import index_corpus
    from data_pipeline_spark.streaming.index_util import (
        _stage_replace_all,
        _persist_plan,
        compact_index,
        index_stats,
        read_tier_meta,
        rebucket_index,
        repair_index_dir,
        run_batch_key,
        tier_dir,
    )
    from data_pipeline_spark.session import get_spark

    canary_start = bench._spin_canary()
    spark = get_spark("measure_index_rebucket")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()
    work = tempfile.mkdtemp(prefix="idx_rebucket_")
    report: dict = {"sf_dir": sf_dir, "n_docs": n_docs,
                    "buckets_before": BUCKETS, "canary_start": canary_start}

    idx = os.path.join(work, "lsh")
    t0 = time.perf_counter()
    index_corpus(docs, idx, buckets=BUCKETS)
    report["init_sec"] = round(time.perf_counter() - t0, 1)

    # a committed pending batch that must SURVIVE the rebucket untouched
    batch = (
        docs.orderBy("doc_id").limit(20)
        .select((F.col("doc_id") + 90_000_000).alias("doc_id"), "text")
    )
    ck = os.path.join(work, "ck")
    os.makedirs(os.path.join(ck, "commits"))
    with open(os.path.join(ck, "commits", "0"), "w") as f:
        f.write("{}")
    key = run_batch_key(ck, 0)
    sh = shingles_df(batch)
    bands_df(minhash_signatures(sh)).write.parquet(tier_dir(idx, "bands", key))
    sh.write.parquet(tier_dir(idx, "shingles", key))
    rows_before = {
        t: spark.read.parquet(os.path.join(idx, t)).count()
        for t in ("bands", "shingles")
    }

    st = index_stats(idx, ck)["tiers"]
    report["before"] = {
        t: {"bucket_bytes_max_kb": round(st[t]["bucket_bytes_max"] / 1e3, 1),
            "base_mb": round(st[t]["base_bytes"] / 1e6, 1),
            "batch_dirs": st[t]["batch_dirs"]}
        for t in ("bands", "shingles")
    }

    # ---- the measured op: 1024 -> 2048, O(tier) by design ------------
    t0 = time.perf_counter()
    rebucket_index(spark, idx, BUCKETS * 2)
    report["rebucket_sec"] = round(time.perf_counter() - t0, 1)
    st = index_stats(idx, ck)["tiers"]
    report["after"] = {
        t: {"bucket_bytes_max_kb": round(st[t]["bucket_bytes_max"] / 1e3, 1),
            "base_mb": round(st[t]["base_bytes"] / 1e6, 1),
            "batch_dirs": st[t]["batch_dirs"]}
        for t in ("bands", "shingles")
    }
    for t in ("bands", "shingles"):
        assert read_tier_meta(idx, t)["buckets"] == BUCKETS * 2
        assert st[t]["batch_dirs"] == 1  # pending batch untouched
        got = spark.read.parquet(os.path.join(idx, t)).count()
        assert got == rows_before[t], (t, got, rows_before[t])

    # ---- no-straddle: the pending batch folds at the NEW count -------
    t0 = time.perf_counter()
    folded = compact_index(spark, idx, ck)
    report["compact_after_rebucket"] = {
        "wall_sec": round(time.perf_counter() - t0, 1),
        "folded": folded,
    }
    assert folded == {"bands": 1, "shingles": 1}
    for t in ("bands", "shingles"):
        got = spark.read.parquet(os.path.join(idx, t)).count()
        assert got == rows_before[t], (t, got, rows_before[t])

    # ---- crash drill at scale: plan persisted, apply never ran -------
    tier = "shingles"
    tpath = os.path.join(idx, tier)
    base = tier_dir(idx, tier, "base")
    cdir = os.path.join(tpath, ".compact")
    shutil.rmtree(cdir, ignore_errors=True)
    t0 = time.perf_counter()
    plan = _stage_replace_all(
        spark.read.parquet(base), ["id"], BUCKETS, base, fold=[]
    )
    _persist_plan(cdir, plan)
    report["crash_stage_sec"] = round(time.perf_counter() - t0, 1)
    # process "dies" here; recovery:
    t0 = time.perf_counter()
    repair_index_dir(idx)
    report["crash_repair_sec"] = round(time.perf_counter() - t0, 1)
    assert read_tier_meta(idx, tier)["buckets"] == BUCKETS
    got = spark.read.parquet(tpath).count()
    assert got == rows_before[tier], (got, rows_before[tier])

    report["canary_end"] = bench._spin_canary()
    shutil.rmtree(work)
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main(sys.argv[1])
