"""Streaming embedding similarity: incoming vectors vs the indexed
corpus, per micro-batch — the continuous-ingestion twin of the batch
sign-LSH near-dup path (queries/dedup.py d09), the same way
dedup_stream.py twins the MinHash pipeline.

Each micro-batch of new vectors computes its sign-LSH signatures with
THE SAME deterministic md5-derived planes and d09's plane counts
(operators/similarity.embedding_signatures — batch and streaming
buckets cannot drift), probes the PERSISTED signature index through the
one Hamming-1 multiprobe join (operators/similarity.multiprobe_pairs),
exact-cosine-verifies the candidates, emits (new vector, corpus
neighbor, cos_sim >= threshold), and folds its own signatures + vectors
into the index so later batches see it.  The probe is the pure function
``probe_matches``, which the declared batch gate (queries/dedup.py
v05_stream_similarity_gate) hash-oracles against DuckDB — the streaming
path's expressions are hash-verified through their batch twin.

At-least-once idempotency: Structured Streaming may RETRY a micro-batch
after a partial failure, so nothing here may blindly append.  Every
index fold and every matches write goes to a batch-keyed partition
directory (checkpoint-scoped keys, see streaming/index_util.py) with
overwrite — a retried batch overwrites its own directory instead of
duplicating rows, and a fresh-checkpoint restart folds alongside the old
run's partitions instead of over them.  Readers use plain
``spark.read.parquet(dir)``: the key directories are ordinary partition
columns.

At scale (round 14) the index base is hash-bucketed on the vector id —
one parquet file per bucket inside ``batch=base`` (index_util.write_base)
— so compact_index rewrites only the buckets a crawl's vectors hash to
instead of the whole tier.  All heavy work is the existing batch
builders inside ``foreachBatch`` — the streaming layer only sequences
micro-batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import cosine, embedding_signatures, multiprobe_pairs
from ..queries.dedup import COS_T, EMB_DIM, EMB_PLANES, EMB_TABLES
from .index_util import (
    require_batch_layout,
    run_batch_key,
    stream_sink,
    tier_dir as _tier_dir,
    write_base,
)


def index_corpus(emb: DataFrame, index_dir: str,
                 buckets: int | None = None) -> None:
    """Build the persisted sign-LSH index (signatures + vectors) for a
    corpus.  ``emb`` is (id, emb array<double>).

    Both tiers scale with corpus row count, so their base is written
    HASH-BUCKETED on the vector id (index_util.write_base): partial
    compaction then rewrites only the buckets a crawl's vectors hash
    to — one vector's signature rows share its bucket."""
    write_base(embedding_signatures(emb, EMB_DIM, EMB_PLANES, EMB_TABLES),
               index_dir, "sigs", ["id"], buckets=buckets)
    write_base(emb, index_dir, "vecs", ["id"], buckets=buckets)


def probe_matches(
    new_vecs: DataFrame,
    new_sigs: DataFrame,
    idx_sigs: DataFrame,
    idx_vecs: DataFrame,
) -> DataFrame:
    """(new_id, corpus_id, cos_sim >= COS_T): the full probe — directed
    Hamming-1 multiprobe candidates (new vs corpus, multiprobe_pairs),
    then exact-cosine verify against the indexed vectors.  Pure function
    of its four relations; both the streaming micro-batch and the
    declared v05 gate run exactly this."""
    cands = (
        multiprobe_pairs(new_sigs, idx_sigs, EMB_PLANES)
        .filter(F.col("probe_id") != F.col("index_id"))
        .select(F.col("probe_id").alias("new_id"), F.col("index_id").alias("corpus_id"))
    )
    a = new_vecs.select(F.col("id").alias("new_id"), F.col("emb").alias("qemb"))
    b = idx_vecs.select(F.col("id").alias("corpus_id"), F.col("emb").alias("nemb"))
    return (
        cands.join(a, "new_id")
        .join(b, "corpus_id")
        .select(
            "new_id", "corpus_id",
            F.round(cosine("qemb", "nemb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COS_T)
    )


def match_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    append: bool = True,
    batch_key: str | None = None,
) -> DataFrame:
    """One micro-batch: probe the index (probe_matches), then
    (optionally) fold the batch into the index under its own
    ``batch=<batch_key>`` partition with overwrite — a retried batch
    replaces its directory, so the fold is idempotent under
    at-least-once delivery.  Returns matches (new_id, corpus_id,
    cos_sim)."""
    new_sigs = embedding_signatures(batch, EMB_DIM, EMB_PLANES, EMB_TABLES)
    idx_sigs = spark.read.parquet(os.path.join(index_dir, "sigs"))
    idx_vecs = spark.read.parquet(os.path.join(index_dir, "vecs"))
    if batch_key is not None:
        # a RETRIED batch must not probe its own partial fold from the
        # failed attempt — excluding the batch's own partition (pruned
        # at the scan) makes the retry reproduce the first run exactly
        idx_sigs = require_batch_layout(idx_sigs, index_dir, "sigs")
        idx_vecs = require_batch_layout(idx_vecs, index_dir, "vecs")
        idx_sigs = idx_sigs.filter(F.col("batch") != batch_key)
        idx_vecs = idx_vecs.filter(F.col("batch") != batch_key)
    idx_sigs = idx_sigs.select("id", "t", "sig")
    idx_vecs = idx_vecs.select("id", "emb")
    # materialize BEFORE the index grows (the plan reads the index dirs)
    result = probe_matches(batch, new_sigs, idx_sigs, idx_vecs).localCheckpoint()
    if append:
        if batch_key is None:
            raise ValueError(
                "append=True requires batch_key: index folds must be "
                "batch-keyed to stay idempotent under streaming retries"
            )
        new_sigs.write.mode("overwrite").parquet(_tier_dir(index_dir, "sigs", batch_key))
        batch.write.mode("overwrite").parquet(_tier_dir(index_dir, "vecs", batch_key))
    return result


def stream_similarity(
    spark: SparkSession,
    feed_path: str,
    index_dir: str,
    matches_dir: str,
    checkpoint: str,
    compact_every: int | None = None,
):
    """Structured-Streaming wrapper: each micro-batch of vectors
    (vec_id bigint, embedding array<double>) is matched against — and
    folded into — the index; matches land in a ``batch_id=<key>``
    partition of ``matches_dir`` with overwrite.  Keys are
    checkpoint-scoped (index_util.run_batch_key): a retry overwrites its
    own directory, a fresh-checkpoint restart cannot collide with a
    previous run's batch-0 fold.  Read the whole directory as ordinary
    partitioned parquet.

    ``compact_every``: fold committed batch partitions into base every N
    micro-batches (index_util.stream_sink, the one sink lifecycle)."""

    def serve(batch: DataFrame, batch_id: int) -> None:
        emb = batch.select(
            F.col("vec_id").alias("id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
        )
        key = run_batch_key(checkpoint, batch_id)
        out = match_batch(spark, emb, index_dir, batch_key=key)
        # batch_id is a STRING partition key; consumers get the numeric
        # micro-batch id as a real data column (README §streaming)
        out.withColumn(
            "micro_batch_id", F.lit(batch_id).cast("bigint")
        ).write.mode("overwrite").parquet(
            os.path.join(matches_dir, f"batch_id={key}")
        )

    sink = stream_sink(spark, index_dir, checkpoint, serve, compact_every)
    feed = spark.readStream.schema("vec_id bigint, embedding array<double>").json(
        feed_path
    )
    return (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
