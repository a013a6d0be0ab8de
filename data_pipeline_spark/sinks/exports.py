"""Sink operators (SURVEY §2.2 K1–K9).

K1 upsert: the reference's ``INSERT ... ON CONFLICT DO UPDATE``
(storage/cache/postgres.py:402-459 in /root/reference) is expressed as a
key-level merge: updates win over existing rows. On a Delta/Iceberg
deployment this is literally ``MERGE INTO``; on plain parquet (this
environment) the same semantics are produced by anti-join + union and an
atomic directory swap. K2 bulk batching and K7's heap-merge are native to
Spark's writer. Exports (K4/K6/K8/K9) are sharded writes — the reference's
24-slice export files map to output partitions.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def merge_upsert(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """K1 as a dataflow: rows from ``updates`` replace same-key rows of
    ``existing``; order-independent and deterministic (one shuffle on key
    each side; at scale both tiers should be bucketed by the key so the
    anti-join is co-located)."""
    kept = existing.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates)


def write_parquet_atomic(df: DataFrame, path: str) -> None:
    """K3-safe full-table commit: write-new + atomic directory swap, NO
    merge against the existing table.  Use when ``df`` already IS the
    complete next state (e.g. apply_changes output, where deleted keys are
    simply absent — running merge_upsert on it would resurrect them from
    the old table via the left-anti 'kept' branch)."""
    tmp = path + ".__new__"
    # Output-file sizing (guide §6): committed tiers are one file PER
    # SHUFFLE PARTITION regardless of bytes.  The r15 knob that inserted
    # a REBALANCE hint here (SPARK_GRAFT_SIZED_WRITES) was VALIDATED AT
    # 30x IN r16 AND DELETED: the keyless rebalance round-robins rows,
    # destroying each tier's clustering and with it parquet compression
    # — measured on the 30x pair-corpus build, edges 33.0 -> 47.6 MB
    # (+44%) and idmap 21.4 -> 38.0 MB (+78%) on-disk for the SAME rows,
    # write wall +56% on edges — while only 1 of 3 tiers actually
    # coalesced toward the advisory size (AQE sizes on in-memory stats,
    # not on-disk bytes).  The production answer is a table format whose
    # writer sizes files while preserving sort order (Iceberg
    # write.target-file-size-bytes + write.distribution-mode, SCALE.md
    # §output-layout), not a clustering-destroying exchange bolted on
    # here.
    df.write.mode("overwrite").parquet(tmp)
    old = path + ".__old__"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def write_upsert_parquet(
    spark: SparkSession, updates: DataFrame, path: str, key: str
) -> None:
    """Apply merge_upsert against the parquet table at ``path`` and commit
    via write-new + atomic swap (the no-Delta stand-in for MERGE INTO;
    swap to ``delta.merge`` on a real deployment for ACID + concurrency).
    ``updates`` must be a DELTA (rows to add/replace) — for a fully merged
    table use write_parquet_atomic, or deletes are silently undone."""
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        merged = merge_upsert(existing, updates, key)
    else:
        merged = updates
    write_parquet_atomic(merged, path)


def export_jsonl(df: DataFrame, path: str, shards: int = 24, compress: bool = True) -> None:
    """K4: sharded JSONL export (run-export.py:48-69 analog — the 24 slice
    files are output partitions)."""
    w = df.repartition(shards).write.mode("overwrite")
    if compress:
        w = w.option("compression", "gzip")
    w.json(path)


def export_ntriples(edges: DataFrame, path: str, shards: int = 24) -> None:
    """K6: edges -> gzipped N-Triples shard files (manage-data.py:221-250)."""
    from ..pipeline.edges import to_ntriples

    to_ntriples(edges).repartition(shards).write.mode("overwrite").option(
        "compression", "gzip"
    ).text(path)


def export_csv(df: DataFrame, path: str) -> None:
    """K8: index/CSV export with header."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_bucketed(
    df: DataFrame, table: str, key: str, path: str, n_buckets: int | None = None
) -> None:
    """K2 at scale: persist a tier at ``path`` bucketed AND sorted by its
    join/merge key, registered as the external table ``table``.  Two
    bucketed tables with the same bucket count join with NO exchange and
    NO sort — the join that dominates a 100TB build (orders x lineitem,
    record x idmap, shingle x candidate) becomes a zipper over
    co-located files.  This is the concrete form of every "bucketed by
    the key at scale" note in SCALE.md; the shuffle-free plan is pinned
    by tests/test_plan_quality.py.  The files outlive the registration:
    a later session re-registers them with the same bucket spec
    (plans.model.load_planner).

    ``n_buckets`` defaults to ``spark.sql.shuffle.partitions``: a
    bucketed scan replaces a join's exchange only when its bucket count
    is at least the shuffle partition count (otherwise EnsureRequirements
    reshuffles it), and more buckets than that only multiply tasks and
    files.  The rows are hash-partitioned by ``key`` into ``n_buckets``
    partitions first; a bucket id is the same ``pmod(murmur3(key), n)``
    as that partition id, so each writer task holds exactly one bucket
    and the table is one file per bucket instead of one per bucket per
    input partition."""
    if n_buckets is None:
        n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (
        df.repartition(n_buckets, key)
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .option("path", path)
        .saveAsTable(table)
    )


def write_training_shards(curated: DataFrame, path: str) -> None:
    """Write a curated corpus as training shards: one directory per
    shard (``shard=N/``), rows stored in permutation order (``pos``)
    inside each shard — the layout a training job consumes by reading
    shard directories in index order (see d24/d26: shard and pos are
    the deterministic md5 routing + per-shard rank).

    Scale shape: repartition BY the shard column (each shard's rows
    converge to one task) + sortWithinPartitions(pos), so every shard
    directory holds one ordered file regardless of input partitioning.
    Shard count is the parallelism knob — at 100TB use thousands of
    shards, each a few GB."""
    (
        curated.repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
