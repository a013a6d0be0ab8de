"""Change-feed ingestion (S2 + R1–R8): ActivityStreams semantics on Spark.

The reference walks paged OrderedCollections backwards, stopping at a
watermark, deduping seen identifiers, classifying change types, and
applying create/update/delete to the caches (process/base/harvester.py:
111-297, process/update_manager.py:12-181 in /root/reference).

Two twins, one semantics:

- ``apply_changes``: the deterministic BATCH form — watermark bound (R1),
  harvest_from upper bound (R2), first-seen-wins dedupe (R5), freshness
  gate (R6), tombstone cascade with inbound-reference protection (R4/R8 —
  delete is vetoed while other records still point at the target, checked
  by an anti-join on the edges table).
- ``stream_changes``: the same pipeline as Structured Streaming —
  file-source ``readStream`` + event-time watermark + dropDuplicates, with
  ``foreachBatch`` applying the batch function, so streaming and batch
  CANNOT diverge (single implementation of the merge step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

CHANGES_SCHEMA = (
    "seq bigint, end_time timestamp, change string, object_uri string, payload string"
)


def dedupe_first_seen(changes: DataFrame) -> DataFrame:
    """R5: one change per object_uri. The reference keeps the FIRST item
    seen while walking the feed newest-first (harvester.py:219-222) — i.e.
    the latest change wins. Expressed order-independently: max event time,
    feed position as the tiebreak, so batch and streaming agree no matter
    how items are batched."""
    w = W.partitionBy("object_uri").orderBy(F.desc("end_time"), "seq")
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changes(
    cache: DataFrame,
    changes: DataFrame,
    last_harvest: str | None = None,
    harvest_from: str | None = None,
    edges: DataFrame | None = None,
    materialize: bool = False,
) -> DataFrame:
    """cache(object_uri, record_time, data) + change feed -> new cache.

    Deletes cascade only when nothing else references the target (R8:
    inbound-reference anti-join on edges(subject, predicate, object));
    upserts skip when the cache already holds a fresher record (R6).

    ``materialize``: localCheckpoint the deduped change set — it feeds
    THREE subtrees (deletes, the upsert freshness join, and the final
    survivors anti-join), each of which otherwise re-executes the
    dedupe window against the source (r15 opt, guide §5 — the same
    once-per-micro-batch pattern as dedup_stream.match_batch).  The
    streaming sink turns this on (batches are delta-sized); the batch
    oracle twins keep the single-pass default so declared-query shapes
    are unchanged."""
    ch = changes
    if last_harvest is not None:
        ch = ch.filter(F.col("end_time") > F.lit(last_harvest).cast("timestamp"))  # R1
    if harvest_from is not None:
        ch = ch.filter(F.col("end_time") <= F.lit(harvest_from).cast("timestamp"))  # R2
    ch = dedupe_first_seen(ch)
    if materialize:
        ch = ch.localCheckpoint()

    deletes = ch.filter(F.col("change") == "delete").select("object_uri")
    if edges is not None:
        # R4/R8: a tombstone is vetoed while inbound references survive
        inbound = edges.select(F.col("object").alias("object_uri")).distinct()
        deletes = deletes.join(inbound, "object_uri", "left_anti")

    upserts = (
        ch.filter(F.col("change") != "delete")
        .filter(F.col("payload").isNotNull())
        .select(
            "object_uri",
            F.col("end_time").alias("record_time"),
            F.col("payload").alias("data"),
        )
    )
    # R6 freshness gate: keep the upsert only if newer than the cached row
    stale = cache.select("object_uri", F.col("record_time").alias("_cached_time"))
    upserts = (
        upserts.join(stale, "object_uri", "left")
        .filter(
            F.col("_cached_time").isNull()
            | (F.col("record_time") > F.col("_cached_time"))
        )
        .drop("_cached_time")
    )

    survivors = (
        cache.join(deletes, "object_uri", "left_anti")
        .join(upserts.select("object_uri"), "object_uri", "left_anti")
    )
    return survivors.unionByName(upserts)


def stream_changes(
    spark: SparkSession,
    feed_path: str,
    cache_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
    edges: DataFrame | None = None,
):
    """Structured-Streaming twin: readStream(feed JSONL) -> event-time
    watermark + streaming dedupe -> foreachBatch(apply_changes + upsert).

    Returns the started query (availableNow semantics are up to the
    caller's trigger choice). State stays bounded: dropDuplicates holds
    only keys within the watermark; the heavy merge runs per micro-batch
    as ordinary batch Spark against the parquet tier."""
    from ..sinks.exports import write_parquet_atomic

    feed = (
        spark.readStream.schema(CHANGES_SCHEMA)
        .json(feed_path)
        .withWatermark("end_time", watermark)
        .dropDuplicates(["object_uri", "seq"])
    )

    def sink(batch: DataFrame, batch_id: int) -> None:
        import os

        if os.path.exists(cache_path):
            cache = spark.read.parquet(cache_path)
        else:
            cache = spark.createDataFrame(
                [], "object_uri string, record_time timestamp, data string"
            )
        # new_cache IS the full next state (deletes applied) -> atomic
        # overwrite, not merge (merge would resurrect deleted keys).
        new_cache = apply_changes(cache, batch, edges=edges, materialize=True)
        write_parquet_atomic(new_cache, cache_path)

    return (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
