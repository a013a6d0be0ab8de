"""Entity-STREAM scale protocol (VERDICT r11 #6): the batch chain has
30x/100x protocol rows; this is the streaming twin's — the production
incremental path (the reference's update_manager cadence) run through
``stream_entity_builds`` at corpus scale, with the round-12 delta
(merge-on-read) state layout under measurement.

What it measures, on a pair corpus derived from a scaled SF directory
(~2 records/customer; /tmp/sf1x30 = 900k records):

- **init**: full build -> v=base (the one-time corpus-scale cost);
- **crawl cadence**: three 1,000-change crawls (half updates, quarter
  deletes, quarter creates; disjoint key ranges) streamed via
  availableNow — per-crawl wall from the query's own progress log;
- **write amplification**: bytes written per crawl (the delta dirs)
  vs the base tier bytes the r11 full-tier layout rewrote per crawl —
  THE number the delta layout exists to fix;
- **crash-restart at scale**: the third crawl arrives with its future
  delta dirs pre-poisoned (partial wrong rows + a manifest claiming a
  bogus deletion) and the stream restarted from the same checkpoint
  must overwrite the poison, fold only committed deltas, and land
  correct state;
- **compaction**: fold-to-base wall, state bytes before/after, dirs
  removed;
- **bucketed compaction proportionality (round 13)**: the base is
  bucketed (~1k records/bucket here so the effect is visible at fixture
  crawl sizes); after the first compaction, a TINY fourth crawl (20
  changes) streams and compacts again — the tool reports how many
  bucket dirs that compaction rewrote and their bytes vs the whole base.
  The claim under measurement: compaction cost ∝ touched buckets, not
  corpus (with production bucket sizing, ∝ delta alone);
- **read-path fan-in**: wall of a full fold read (latest_state count)
  at 3 accumulated deltas vs 0 (post-compaction) — the measured basis
  for the compact_every default;
- **gold**: folded merged state == full rebuild over the folded records
  tier (exceptAll both ways, Spark-side) — the same invariant the
  fixture tests pin, proven here at scale.

Usage:
    python tools/measure_entity_stream.py /tmp/sf1x30
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

N_CRAWLS = 3
N_CHANGES = 1_000  # per crawl, fixed regardless of corpus scale


def _spin(iters: int = 2_000_000) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(iters):
        acc += i
    _ = acc
    return round(time.perf_counter() - t0, 3)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def _tier_bytes(state_dir: str) -> dict[str, int]:
    out = {"base": 0, "deltas": 0}
    for tier in ("records", "idmap", "merged", "touched"):
        tdir = os.path.join(state_dir, tier)
        if not os.path.isdir(tdir):
            continue
        for d in os.listdir(tdir):
            kind = "base" if d == "v=base" else "deltas"
            out[kind] += _du(os.path.join(tdir, d))
    return out


def _uri(src: str, k) -> str:
    return f"https://fixture.test/{src}/{k}"


def _doc(src: str, k, label: str, link: str | None = None) -> str:
    d = {"id": _uri(src, k), "type": "Person", "_label": label}
    if link:
        d["equivalent"] = [{"id": link, "type": "Person"}]
    return json.dumps(d)


def _pair_records(spark, sf_dir: str):
    """srcA/srcB twins per customer — the ETL scale-protocol corpus."""
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


def _write_crawl(path: str, crawl_idx: int, mtime: float,
                 n: int = N_CHANGES) -> None:
    """``n`` changes over keys [crawl_idx*N+1, crawl_idx*N+n]: half
    updates, quarter deletes, quarter creates — disjoint ranges so
    crawls chain over distinct components."""
    lo = crawl_idx * N_CHANGES + 1
    day = f"2026-02-0{crawl_idx + 1}T10:00:00"
    with open(path, "w") as f:
        for k in range(lo, lo + n):
            m = k % 4
            if m == 2:  # delete srcA's record -> pair shrinks to srcB
                row = {"seq": k, "end_time": day, "change": "delete",
                       "object_uri": _uri("srcA", k), "payload": None}
            elif m == 3:  # create srcN linking into the pair
                row = {"seq": k, "end_time": day, "change": "create",
                       "object_uri": _uri("srcN", k),
                       "payload": _doc("srcN", k, f"New {k} c{crawl_idx}",
                                       _uri("srcA", k))}
            else:  # update srcA's label
                row = {"seq": k, "end_time": day, "change": "update",
                       "object_uri": _uri("srcA", k),
                       "payload": _doc("srcA", k, f"Upd {k} c{crawl_idx}",
                                       _uri("srcB", k))}
            f.write(json.dumps(row) + "\n")
    os.utime(path, (mtime, mtime))


def main(sf_dir: str) -> None:
    sys.path.insert(0, "/root/repo")
    import shutil

    from data_pipeline_spark.pipeline.build import run_build
    from data_pipeline_spark.streaming.entity_stream import (
        compact_entity_state,
        init_state,
        latest_state,
        read_base_tier,
        stream_entity_builds,
    )
    from data_pipeline_spark.streaming.index_util import (
        committed_batch_ids,
        run_batch_key,
    )

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
    order = {"srcA": 0, "srcB": 1, "srcN": 2}

    work = "/tmp/entity_stream_scale"
    shutil.rmtree(work, ignore_errors=True)
    state_dir = os.path.join(work, "state")
    feed_dir = os.path.join(work, "feed")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(feed_dir)

    records = _pair_records(spark, sf_dir).localCheckpoint()
    n_records = records.count()

    # ~1k records/bucket so touched-bucket proportionality is visible at
    # fixture crawl sizes; production sizes buckets by BYTES (~128 MB).
    # argv[2] overrides — used to hold the bucket count FIXED across
    # corpus scales and separate bucket-file-count overhead (a local[32]
    # listing artifact of tiny buckets) from true corpus scaling.
    n_buckets = (
        int(sys.argv[2]) if len(sys.argv) > 2
        else 2 ** max(4, math.ceil(math.log2(max(1, n_records / 1000))))
    )
    t0 = time.perf_counter()
    init_state(spark, records, indexes, state_dir, merge_order=order,
               buckets=n_buckets)
    init_sec = round(time.perf_counter() - t0, 1)
    base_bytes = _tier_bytes(state_dir)["base"]

    # ---- phase A: two crawls streamed, one micro-batch each ----
    now = time.time()
    for i in range(2):
        _write_crawl(os.path.join(feed_dir, f"crawl{i}.jsonl"), i, now + i)
    t0 = time.perf_counter()
    q = stream_entity_builds(spark, feed_dir, state_dir, ckpt, indexes, order)
    q.awaitTermination(1200)
    phase_a_sec = round(time.perf_counter() - t0, 1)
    batch_secs = [
        round(p["batchDuration"] / 1000.0, 1)
        for p in (json.loads(sp.json) for sp in q.recentProgress)
        if p.get("batchDuration")
    ]
    sizes_after_a = _tier_bytes(state_dir)
    assert committed_batch_ids(ckpt) == {0, 1}, committed_batch_ids(ckpt)

    # ---- phase B: crash-restart at scale — batch 2's future delta dirs
    # pre-poisoned (what a mid-write death leaves), third crawl arrives,
    # restart from the SAME checkpoint ----
    key2 = run_batch_key(ckpt, 2)
    spark.createDataFrame(
        [("poison", "poison")], "tier string, k string"
    ).write.mode("overwrite").parquet(f"{state_dir}/touched/d={key2}")
    spark.createDataFrame(
        [("https://fixture.test/srcB/2", )], "yuid string"
    ).write.mode("overwrite").parquet(f"{state_dir}/merged/d={key2}")
    _write_crawl(os.path.join(feed_dir, "crawl2.jsonl"), 2, now + 2)
    t0 = time.perf_counter()
    q2 = stream_entity_builds(spark, feed_dir, state_dir, ckpt, indexes, order)
    q2.awaitTermination(1200)
    restart_sec = round(time.perf_counter() - t0, 1)
    assert committed_batch_ids(ckpt) == {0, 1, 2}

    sizes_before_compact = _tier_bytes(state_dir)

    # ---- read-path fan-in: full fold read at 3 accumulated deltas ----
    t0 = time.perf_counter()
    _ = latest_state(spark, state_dir, ckpt)["merged"].count()
    fold_read_3_deltas_sec = round(time.perf_counter() - t0, 1)

    # ---- compaction: fold 3 committed deltas into base (touched
    # buckets only — the round-13 partial rewrite) ----
    def _bucket_snapshot(tier: str) -> dict[str, tuple[int, int]]:
        bdir = os.path.join(state_dir, tier, "v=base")
        out = {}
        for d in os.listdir(bdir):
            if d.startswith("b="):
                full = os.path.join(bdir, d)
                out[d] = (_du(full), max(
                    (os.stat(os.path.join(full, f)).st_mtime_ns
                     for f in os.listdir(full)), default=0))
        return out

    snap_before = _bucket_snapshot("merged")
    t0 = time.perf_counter()
    removed = compact_entity_state(spark, state_dir, ckpt)
    compact_sec = round(time.perf_counter() - t0, 1)
    sizes_after_compact = _tier_bytes(state_dir)
    snap_after = _bucket_snapshot("merged")
    rewritten_1 = {d for d in snap_after
                   if snap_after[d] != snap_before.get(d)}
    compact1_buckets = {
        "total_buckets": len(snap_after),
        "rewritten_buckets": len(rewritten_1),
        "rewritten_bytes": sum(snap_after[d][0] for d in rewritten_1),
        "base_bytes": sum(v[0] for v in snap_after.values()),
    }

    # ---- fold read with 0 deltas (post-compaction baseline) ----
    t0 = time.perf_counter()
    _ = latest_state(spark, state_dir, ckpt)["merged"].count()
    fold_read_0_deltas_sec = round(time.perf_counter() - t0, 1)

    # ---- round-13 proportionality probe: a TINY crawl (20 changes),
    # then compaction again — rewritten buckets must track the crawl's
    # touched keys, not the corpus ----
    n_tiny = 20
    _write_crawl(os.path.join(feed_dir, "crawl3.jsonl"), 3, now + 3,
                 n=n_tiny)
    t0 = time.perf_counter()
    q3 = stream_entity_builds(spark, feed_dir, state_dir, ckpt, indexes, order)
    q3.awaitTermination(1200)
    tiny_crawl_sec = round(time.perf_counter() - t0, 1)
    snap_before = _bucket_snapshot("merged")
    t0 = time.perf_counter()
    removed_tiny = compact_entity_state(spark, state_dir, ckpt)
    compact_tiny_sec = round(time.perf_counter() - t0, 1)
    snap_after = _bucket_snapshot("merged")
    rewritten_2 = {d for d in snap_after
                   if snap_after[d] != snap_before.get(d)}
    compact_tiny_buckets = {
        "total_buckets": len(snap_after),
        "rewritten_buckets": len(rewritten_2),
        "rewritten_bytes": sum(snap_after[d][0] for d in rewritten_2),
        "base_bytes": sum(v[0] for v in snap_after.values()),
    }

    # ---- gold: folded state == full rebuild over folded records ----
    t0 = time.perf_counter()
    final = latest_state(spark, state_dir, ckpt)
    base_idmap = read_base_tier(spark, state_dir, "idmap")
    gold = run_build(
        spark, final["records"], indexes, idmap_prev=base_idmap,
        merge_order=order,
    )
    cols = ["yuid", "data"]
    extra = final["merged"].select(cols).exceptAll(gold["merged"].select(cols)).count()
    missing = gold["merged"].select(cols).exceptAll(final["merged"].select(cols)).count()
    n_merged = final["merged"].count()
    gold_sec = round(time.perf_counter() - t0, 1)
    assert extra == 0 and missing == 0, (extra, missing)

    canary_end = _spin()
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_records": n_records,
        "n_crawls": N_CRAWLS,
        "n_changes_per_crawl": N_CHANGES,
        "init_build_sec": init_sec,
        "base_bytes": base_bytes,
        "phase_a_two_crawls_sec": phase_a_sec,
        "per_batch_sec": batch_secs,
        "delta_bytes_after_two_crawls": sizes_after_a["deltas"],
        "restart_with_poison_third_crawl_sec": restart_sec,
        "delta_bytes_three_crawls": sizes_before_compact["deltas"],
        "write_amplification_old_layout_bytes_per_crawl": base_bytes,
        "write_amplification_delta_bytes_per_crawl":
            sizes_before_compact["deltas"] // N_CRAWLS,
        "n_buckets": n_buckets,
        "fold_read_3_deltas_sec": fold_read_3_deltas_sec,
        "fold_read_0_deltas_sec": fold_read_0_deltas_sec,
        "compact_sec": compact_sec,
        "compact_removed": removed,
        "compact_merged_buckets": compact1_buckets,
        "bytes_before_compact": sizes_before_compact,
        "bytes_after_compact": sizes_after_compact,
        "tiny_crawl_n_changes": n_tiny,
        "tiny_crawl_sec": tiny_crawl_sec,
        "compact_tiny_sec": compact_tiny_sec,
        "compact_tiny_removed": removed_tiny,
        "compact_tiny_merged_buckets": compact_tiny_buckets,
        "gold_check_sec": gold_sec,
        "n_merged_final": n_merged,
        "gold_mismatch_rows": extra + missing,
        "canary_spin_sec": {"start": canary_start, "end": canary_end},
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1x30")
