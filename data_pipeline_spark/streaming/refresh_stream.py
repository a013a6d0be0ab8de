"""Streaming incremental corpus refresh: the d48 admission gate run
continuously — each micro-batch is a crawl, judged against the persisted
fingerprint indexes and folded into them.

All verdict logic is the batch operator (queries/dedup.refresh_verdicts
over refresh_features) inside ``foreachBatch`` — the streaming layer only
sequences crawls, so batch and streaming refresh CANNOT diverge (the d48
gate + the closed-loop batch test vouch for the shared definitions).
In-batch elections (dup_in_batch, near_dup_batch) are scoped to the
micro-batch, which IS the crawl boundary the d48 semantics define.

At-least-once idempotency (the dedup_stream contract, applied verbatim):
a retried micro-batch must reproduce its first attempt exactly, so the
verdict read EXCLUDES the batch's own index partitions (a partial fold
from the failed attempt would otherwise reject the whole retry as
in_prev_build) and both the admitted-fingerprint fold and the verdicts
write go to batch-keyed partition directories with overwrite.  The
committed-batch compaction fold (index_util.compact_index) applies
unchanged.

At scale: the index tiers are fingerprint-only relations (16 B + 8 B per
admitted doc), bucketed by their key in production so the two verdict
joins co-locate; the crawl pays one text scan + two index joins + two
windows — O(delta + indexes) regardless of corpus age (plan-pinned in
test_plan_quality).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.dedup import (
    refresh_features,  # ONE feature construction batch + streaming share
    refresh_verdicts,
)
from .index_util import (
    require_batch_layout,
    run_batch_key,
    stream_sink,
    tier_dir as _tier_dir,
    write_base,
)


def index_corpus(docs: DataFrame, index_dir: str,
                 buckets: int | None = None) -> None:
    """Build the persisted refresh indexes (exact fp + SimHash64) for an
    existing corpus — e.g. the output of a full d41-style build.
    ``docs`` is (doc_id, text, ...).

    Both tiers scale with the admitted corpus (one row per distinct
    fingerprint), so their base is written HASH-BUCKETED on the
    fingerprint itself (index_util.write_base): partial compaction then
    rewrites only the buckets a crawl's admitted fingerprints hash to.
    Features are materialized once — the fp and sim tiers would
    otherwise each re-execute the corpus text scan."""
    feats = refresh_features(docs).localCheckpoint()
    write_base(feats.select("fp").distinct(), index_dir, "fp", ["fp"],
               buckets=buckets)
    write_base(feats.select("simhash").distinct(), index_dir, "sim",
               ["simhash"], buckets=buckets)


def refresh_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    append: bool = True,
    batch_key: str | None = None,
) -> DataFrame:
    """One crawl: judge every document against the persisted indexes
    (d48's verdict chain), then (optionally) fold the ADMITTED documents'
    fingerprints into the indexes under the batch's own partition with
    overwrite.  Returns the verdicts (doc_id, n_tokens, reason,
    admitted)."""
    feats = refresh_features(batch).localCheckpoint()  # verdicts + fold share it
    idx_fp = spark.read.parquet(os.path.join(index_dir, "fp"))
    idx_sim = spark.read.parquet(os.path.join(index_dir, "sim"))
    if batch_key is not None:
        # a RETRIED crawl must not judge against its own partial fold —
        # excluding the batch's own partition (pruned at the scan) makes
        # the retry reproduce the first run exactly
        idx_fp = require_batch_layout(idx_fp, index_dir, "fp")
        idx_sim = require_batch_layout(idx_sim, index_dir, "sim")
        idx_fp = idx_fp.filter(F.col("batch") != batch_key)
        idx_sim = idx_sim.filter(F.col("batch") != batch_key)
    verdicts = refresh_verdicts(
        feats, idx_fp.select("fp"), idx_sim.select("simhash")
    ).localCheckpoint()  # materialize BEFORE the index grows
    if append:
        if batch_key is None:
            raise ValueError(
                "append=True requires batch_key: index folds must be "
                "batch-keyed to stay idempotent under streaming retries"
            )
        admitted = feats.join(
            verdicts.filter("admitted").select("doc_id"), "doc_id"
        )
        admitted.select("fp").distinct().write.mode("overwrite").parquet(
            _tier_dir(index_dir, "fp", batch_key)
        )
        admitted.select("simhash").distinct().write.mode("overwrite").parquet(
            _tier_dir(index_dir, "sim", batch_key)
        )
    return verdicts


def stream_refresh(
    spark: SparkSession,
    feed_path: str,
    index_dir: str,
    verdicts_dir: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Structured-Streaming wrapper: each micro-batch of documents
    (doc_id bigint, text string) is judged and its admitted fingerprints
    folded; verdicts land in a ``batch_id=<key>`` partition of
    ``verdicts_dir`` with overwrite.  Keys are checkpoint-scoped
    (index_util.run_batch_key) so a retry overwrites its own directory
    while a fresh-checkpoint restart cannot collide with a previous
    run's folds.

    ``compact_every``: fold committed batch partitions into base every N
    micro-batches (index_util.stream_sink, the one sink lifecycle)."""

    def serve(batch: DataFrame, batch_id: int) -> None:
        key = run_batch_key(checkpoint, batch_id)
        out = refresh_batch(spark, batch, index_dir, batch_key=key)
        out.withColumn(
            "micro_batch_id", F.lit(batch_id).cast("bigint")
        ).write.mode("overwrite").parquet(
            os.path.join(verdicts_dir, f"batch_id={key}")
        )

    sink = stream_sink(spark, index_dir, checkpoint, serve, compact_every)
    feed = spark.readStream.schema("doc_id bigint, text string").json(feed_path)
    return (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


__all__ = ["index_corpus", "refresh_batch", "stream_refresh"]
