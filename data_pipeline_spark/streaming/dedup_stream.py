"""Streaming near-duplicate detection: incoming documents vs the indexed
corpus, per micro-batch.

The batch MinHash/LSH pipeline (queries/dedup.py) indexes a static corpus;
continuous ingestion needs the same check incrementally: each micro-batch
of new documents computes signatures, probes the PERSISTED band index for
candidates, verifies with exact Jaccard, emits (new_doc, matched_doc,
jaccard), and appends its own bands/shingles to the index so later batches
see it. All heavy work is the existing batch builders inside
``foreachBatch`` — the streaming layer only sequences micro-batches, so
batch and streaming dedup CANNOT diverge.

At scale (round 14) the index base IS hash-bucketed — on the document
id, one parquet file per bucket inside ``batch=base`` (see
index_util.write_base).  The id is the COMPACTION key, chosen so one
document's ~dozens of band/shingle rows share a bucket and a small
crawl's fold rewrites exactly its documents' buckets (measured at 30x:
a 20-doc fold touches 20/1024 files, ~2% of tier bytes, vs the whole
tier under the legacy flat layout).  Probe joins scan base either way
(band keys spread every doc across band space), so the bucket key
optimizes the write path — the one that was O(corpus).

At-least-once idempotency: Structured Streaming may RETRY a micro-batch
after a partial failure, so nothing here may blindly append — every
index fold and matches write goes to a batch-keyed partition directory
(checkpoint-scoped keys, see streaming/index_util.py) with overwrite; a
retried batch replaces its own directory instead of duplicating index
rows, and a stream restarted with a fresh checkpoint folds alongside the
old run's partitions instead of over them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.dedup import (
    JACCARD_T,
    bands_df as _bands,  # ONE band construction batch + streaming share
    minhash_signatures,
    shingles_df,
)
from .index_util import (
    read_tier_meta,
    require_batch_layout,
    run_batch_key,
    stream_sink,
    tier_dir as _tier_dir,
    write_base,
)


def index_corpus(docs: DataFrame, index_dir: str,
                 buckets: int | None = None) -> None:
    """Build the persisted LSH index (bands + shingles) for a corpus.

    Both tiers scale with corpus row count, so their base is written
    HASH-BUCKETED on the document id (index_util.write_base): partial
    compaction then rewrites only the buckets a crawl's documents hash
    to — id-keyed, so one document's ~hundreds of shingle rows land in
    ONE bucket and a 20-doc crawl touches <= 20 buckets per tier, not
    one per shingle.

    The shingle tier is written FIRST and the band tier derives from the
    WRITTEN parquet, not the live lineage: the 8-gram explode over the
    corpus text is the expensive stage, and deriving bands from the
    in-memory lineage re-executes it end-to-end (measured at 30x: the
    double text scan dominated init).  Reading the just-written tier
    back is the disk-backed reuse — one text scan total, and the bands
    computation starts from columnar shingles.  The read-back targets
    ``batch=base`` SPECIFICALLY, never the whole tier directory: a
    rebuild over a previously-streamed index dir still holds stale
    ``batch=<key>`` partitions, and signatures minhashed over the
    merged shingle set would silently diverge from the base tier
    (wrong bands -> missed true candidates the Jaccard verify never
    sees)."""
    sh = shingles_df(docs)
    write_base(sh, index_dir, "shingles", ["id"], buckets=buckets)
    sh_read = docs.sparkSession.read.parquet(
        _tier_dir(index_dir, "shingles", "base")
    ).select("id", "shingle")
    if buckets is None:
        # match the shingle tier's auto-sized bucket count (recorded in
        # its meta — no count over the text lineage)
        buckets = read_tier_meta(index_dir, "shingles")["buckets"]
    write_base(_bands(minhash_signatures(sh_read)), index_dir, "bands",
               ["id"], buckets=buckets)


def match_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    append: bool = True,
    batch_key: str | None = None,
) -> DataFrame:
    """One micro-batch: probe the index, verify candidates exactly, then
    (optionally) fold the batch into the index under its own
    ``batch=<batch_key>`` partition with overwrite (idempotent under
    at-least-once retry). Returns matches (new_id, corpus_id, jaccard)."""
    # materialize the batch's shingle tier once (r15 opt, guide §5): it
    # feeds FOUR subtrees — the band derivation, the verify join, the
    # size aggregate and the index fold write — and each would otherwise
    # re-execute the tokenize + explode + distinct (a shuffle) against
    # the micro-batch source.  Batches are delta-sized, so the
    # checkpoint is small; the bands tier is likewise read twice
    # (probe join + fold write).
    new_sh = shingles_df(batch).localCheckpoint()
    new_bands = _bands(minhash_signatures(new_sh)).localCheckpoint()
    idx_bands = spark.read.parquet(os.path.join(index_dir, "bands"))
    idx_sh = spark.read.parquet(os.path.join(index_dir, "shingles"))
    if batch_key is not None:
        # a RETRIED batch must not probe its own partial fold from the
        # failed attempt — excluding the batch's own partition (pruned
        # at the scan) makes the retry reproduce the first run exactly
        idx_bands = require_batch_layout(idx_bands, index_dir, "bands")
        idx_sh = require_batch_layout(idx_sh, index_dir, "shingles")
        idx_bands = idx_bands.filter(F.col("batch") != batch_key)
        idx_sh = idx_sh.filter(F.col("batch") != batch_key)
    idx_bands = idx_bands.select("id", "band", "bh")
    idx_sh = idx_sh.select("id", "shingle")

    cands = (
        new_bands.alias("n")
        .join(
            idx_bands.alias("i"),
            (F.col("n.band") == F.col("i.band")) & (F.col("n.bh") == F.col("i.bh")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("i.id").alias("corpus_id"))
        .filter(F.col("new_id") != F.col("corpus_id"))
        .distinct()
    )
    n_sizes = new_sh.groupBy("id").agg(F.count(F.lit(1)).alias("nn"))
    i_sizes = idx_sh.groupBy("id").agg(F.count(F.lit(1)).alias("ni"))
    inter = (
        cands.join(new_sh.alias("a"), F.col("new_id") == F.col("a.id"))
        .join(
            idx_sh.alias("b"),
            (F.col("corpus_id") == F.col("b.id"))
            & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    jac = F.col("n_both").cast("double") / (F.col("nn") + F.col("ni") - F.col("n_both"))
    matches = (
        inter.join(n_sizes, F.col("new_id") == F.col("id")).drop("id")
        .join(i_sizes, F.col("corpus_id") == F.col("id")).drop("id")
        .select("new_id", "corpus_id", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
    )
    result = matches.localCheckpoint()  # materialize BEFORE the index grows
    if append:
        if batch_key is None:
            raise ValueError(
                "append=True requires batch_key: index folds must be "
                "batch-keyed to stay idempotent under streaming retries"
            )
        new_bands.write.mode("overwrite").parquet(
            _tier_dir(index_dir, "bands", batch_key)
        )
        new_sh.write.mode("overwrite").parquet(
            _tier_dir(index_dir, "shingles", batch_key)
        )
    return result


def stream_dedup(
    spark: SparkSession,
    feed_path: str,
    index_dir: str,
    matches_dir: str,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
):
    """Structured-Streaming wrapper: each micro-batch of documents
    (doc_id bigint, text string) is matched and folded into the index;
    matches land in a ``batch_id=<key>`` partition of ``matches_dir``
    with overwrite.  Keys are checkpoint-scoped (index_util.run_batch_key)
    so a retry overwrites its own directory while a fresh-checkpoint
    restart cannot collide with — and silently destroy — a previous
    run's batch-0 fold.

    ``compact_every``: fold committed batch partitions into base every N
    micro-batches (the index streams otherwise grow one partition dir
    per micro-batch forever; at production cadence that is the
    small-files problem compact_index exists for).  Repair, compaction
    and the shared lease follow the one sink lifecycle,
    index_util.stream_sink."""

    def serve(batch: DataFrame, batch_id: int) -> None:
        key = run_batch_key(checkpoint, batch_id)
        out = match_batch(spark, batch, index_dir, batch_key=key)
        # batch_id is a STRING partition key ('<32hex>-b<N>'); consumers
        # that filtered/ordered numerically get the numeric micro-batch
        # id as a real data column (README §streaming)
        out.withColumn(
            "micro_batch_id", F.lit(batch_id).cast("bigint")
        ).write.mode("overwrite").parquet(
            os.path.join(matches_dir, f"batch_id={key}")
        )

    sink = stream_sink(spark, index_dir, checkpoint, serve, compact_every)
    reader = spark.readStream.schema("doc_id bigint, text string")
    if max_files_per_trigger is not None:
        # one-file-per-crawl sequencing: later crawls must probe an index
        # that already contains earlier crawls' folds
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    feed = reader.json(feed_path)
    return (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
