"""Streaming corpus profiling: the HLL cardinality sketch (d42), the
count-min frequency sketch (d43) and the token-length histogram (d44)
maintained incrementally over one document feed — the
continuous-ingestion twin of the batch profile, the same way
similarity_stream.py twins the batch ANN probe.  Merge laws differ and
each is stated where it matters: registers MAX (idempotent), cells and
bins SUM (linear, not idempotent — the batch-keyed overwrite layout
carries at-least-once for those tiers).

The sketch IS the canonical streaming aggregate: the per-source register
relation (source, reg, m) is tiny (<= 256 rows x sources), merges by
register-wise MAX (associative + idempotent), and old batches never need
re-reading — each micro-batch writes ONLY its own partial registers and
the profile reader MAX-merges whatever partitions exist.  Every
expression is the batch path's own (hll_registers / merge_registers /
hll_estimate), and the declared r08_sketch_fold_gate hash-verifies the
fold identity (batch-wise MAX-merge == one-shot sketch) against the
DuckDB oracle — the streaming path is driver-verified through its batch
twin, like the rest of the streaming family.

At-least-once idempotency: partial registers land in batch-keyed
partition directories (checkpoint-scoped keys, streaming/index_util.py)
with per-partition overwrite — a retried micro-batch replaces its own
directory, and MAX-merge makes even a cross-run duplicate fold harmless
(MAX is idempotent), which is strictly stronger than the dedup/similarity
indexes can claim.  The committed-batch compaction fold
(index_util.compact_index) applies unchanged: registers are
partition-layout data like any other tier.

At 100 TB the feed side scans arbitrarily large micro-batches, but the
state and every exchange stay sketch-sized — this is the profile a
continuous ingest consults for "how many distinct tokens has source X
contributed" without ever rescanning history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..queries.sketches import (
    cms_cells,  # ONE cell construction batch + streaming share
    cms_probe_estimates,
    hist_bins,  # ONE histogram construction batch + streaming share
    hist_quantiles,
    hll_estimate,  # ONE estimate construction batch + streaming share
    hll_registers,  # ONE register construction batch + streaming share
    merge_bins,
    merge_cells,
    merge_registers,
)
from .index_util import (
    require_batch_layout,
    run_batch_key,
    stream_sink,
    tier_dir as _tier_dir,
)


def profile_corpus(docs: DataFrame, profile_dir: str) -> None:
    """Build the persisted base profile for an existing corpus —
    both sketch tiers (HLL registers + CMS cells).
    ``docs`` is (source, text, ...)."""
    hll_registers(docs).write.mode("overwrite").parquet(
        _tier_dir(profile_dir, "regs", "base")
    )
    cms_cells(docs).write.mode("overwrite").parquet(
        _tier_dir(profile_dir, "cells", "base")
    )
    hist_bins(docs).write.mode("overwrite").parquet(
        _tier_dir(profile_dir, "bins", "base")
    )


def fold_batch(docs: DataFrame, profile_dir: str, batch_key: str) -> None:
    """Fold one micro-batch: write ITS OWN partial register relation
    under ``batch=<batch_key>`` with overwrite.  No read-modify-write of
    shared state — a retry replaces its own directory, concurrent
    streams fold under their own checkpoint-scoped keys, and the reader
    (read_profile) owns the merge."""
    hll_registers(docs).write.mode("overwrite").parquet(
        _tier_dir(profile_dir, "regs", batch_key)
    )


def read_profile(spark: SparkSession, profile_dir: str) -> DataFrame:
    """The live profile: MAX-merge every folded partial (base + all
    batches) and estimate.  Identical expressions to the d42 batch query
    over the same documents — pinned by test and by the r08 gate."""
    regs = spark.read.parquet(os.path.join(profile_dir, "regs"))
    regs = require_batch_layout(regs, profile_dir, "regs")
    return hll_estimate(merge_registers(regs.select("source", "reg", "m")))


def fold_cms_batch(docs: DataFrame, profile_dir: str, batch_key: str) -> None:
    """Fold one micro-batch of the count-min frequency sketch: write ITS
    OWN partial cell relation under ``batch=<batch_key>`` with overwrite.
    CMS cells merge by SUM — linear, so the reader's merge equals the
    one-shot sketch exactly (r09 gate) — but SUM is NOT idempotent: a
    duplicated fold double-counts, so unlike the HLL registers the
    at-least-once contract rests ENTIRELY on the batch-keyed overwrite
    (a retry replaces its own directory, checkpoint-scoped keys prevent
    cross-run collisions) and on compact_index only folding batches the
    checkpoint has committed."""
    cms_cells(docs).write.mode("overwrite").parquet(
        _tier_dir(profile_dir, "cells", batch_key)
    )


def read_cms_profile(spark: SparkSession, profile_dir: str) -> DataFrame:
    """The live frequency profile: SUM-merge every folded partial and
    point-query the marker vocabulary.  Identical expressions to the
    d43 batch query over the same documents — pinned by the r09 gate."""
    cells = spark.read.parquet(os.path.join(profile_dir, "cells"))
    cells = require_batch_layout(cells, profile_dir, "cells")
    return cms_probe_estimates(
        spark, merge_cells(cells.select("depth", "slot", "c"))
    )


def fold_hist_batch(docs: DataFrame, profile_dir: str, batch_key: str) -> None:
    """Fold one micro-batch of the token-length histogram: write ITS OWN
    partial bin relation under ``batch=<batch_key>`` with overwrite.
    Bins merge by SUM — linear like the CMS cells, with the same
    at-least-once posture: the batch-keyed overwrite layout alone
    carries the retry contract (r10 gate pins the fold identity)."""
    hist_bins(docs).write.mode("overwrite").parquet(
        _tier_dir(profile_dir, "bins", batch_key)
    )


def read_hist_profile(spark: SparkSession, profile_dir: str) -> DataFrame:
    """The live quantile profile: SUM-merge every folded partial and read
    the p50/p90/p99 bins.  Identical expressions to the d44 batch query
    over the same documents — pinned by the r10 gate."""
    bins = spark.read.parquet(os.path.join(profile_dir, "bins"))
    bins = require_batch_layout(bins, profile_dir, "bins")
    return hist_quantiles(spark, merge_bins(bins.select("source", "bin", "n")))


def stream_profile(
    spark: SparkSession,
    feed_path: str,
    profile_dir: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Structured-Streaming wrapper: each micro-batch of documents
    (doc_id bigint, source string, text string) folds its partial HLL
    registers, CMS cells AND histogram bins under a checkpoint-scoped
    batch key (one pass over the batch feeds all three sketch tiers).
    Trigger availableNow — the drain-the-feed mode the other streaming
    twins use.

    ``compact_every``: fold committed batch partitions into base every N
    micro-batches (index_util.stream_sink, the one sink lifecycle; here
    the fold is sketch-sized by construction, so the hook purely bounds
    partition-dir count)."""

    def serve(batch: DataFrame, batch_id: int) -> None:
        key = run_batch_key(checkpoint, batch_id)
        fold_batch(batch.select("source", "text"), profile_dir, key)
        fold_cms_batch(batch.select("source", "text"), profile_dir, key)
        fold_hist_batch(batch.select("source", "text"), profile_dir, key)

    sink = stream_sink(spark, profile_dir, checkpoint, serve, compact_every)
    feed = spark.readStream.schema(
        "doc_id bigint, source string, text string"
    ).json(feed_path)
    return (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


__all__ = [
    "profile_corpus",
    "fold_batch",
    "read_profile",
    "fold_cms_batch",
    "read_cms_profile",
    "fold_hist_batch",
    "read_hist_profile",
    "stream_profile",
]
