"""Driver gates for the curation and dedup STREAMING entry points
(round 13 — VERDICT r12 #6).

The batch logic both streams run is already driver-proven (d19/d21/d18
for curation, d07/d27 for dedup — every expression is shared verbatim
with the batch operators), but the checkpoint/fold machinery of
``stream_curate`` and ``stream_dedup`` was suite-only.  These gates run
the REAL streaming entry points — crawl files become micro-batches
through Structured Streaming's checkpoint machinery, one file per
trigger — and oracle the outputs analytically in DuckDB, the same
pattern r12_entity_stream_fold set for the entity stream.

Reference parity: the reference processes each harvested crawl as one
unit through its pipeline loop (/root/reference pipeline/process/
update_manager.py change cadence); the Spark twins restate that cadence
as micro-batches.  Workdirs are fresh per invocation and reclaimed
before returning (results materialized first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import empty_indexes, load_table
from ..functions.strings import words_sql
from ..sources.loaders import DEFAULT_RECORD_TIME, envelope
from .dedup import _JACCARD_SQL, _bands_sql, _shingles_sql, _sig_sql, _verified_sql, _verify_sql
from .registry import query
from .text3 import (
    EMAIL_RE, IPV4_RE, PHONE_RE, PII_TAIL_SQL, _BENCH_MOD, _CONTAM_MOD, _PLANT, pii_tail,
)
from .text4 import GOPHER_KEEP_SQL, gopher_metrics_sql


def _write_crawls(spark, workdir: str, crawls: list[DataFrame]) -> str:
    """Write each crawl DataFrame as ONE json file with pinned mtimes
    (FileStreamSource orders micro-batches by mtime)."""
    import os

    feed_dir = os.path.join(workdir, "feed")
    os.makedirs(feed_dir)
    for i, crawl in enumerate(crawls):
        tmp = os.path.join(workdir, f"stage{i}")
        crawl.coalesce(1).write.json(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dst = os.path.join(feed_dir, f"crawl{i}.json")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1000 + i, 1000 + i))
    return feed_dir


def _materialized(spark, df: DataFrame, workdir: str) -> DataFrame:
    """Driver-local copy of a gate result + workdir reclaim (the result
    reads the workdir's parquet lazily; gates must not leak /tmp state —
    ADVICE r12)."""
    import shutil

    rows = df.collect()
    shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(rows, df.schema)


# ---------------------------------------------------------------------------
# r13_curation_stream
# ---------------------------------------------------------------------------
@query(
    "r13_curation_stream",
    oracle=rf"""
    WITH planted AS (
        SELECT doc_id,
               text || {PII_TAIL_SQL}
                    || CASE WHEN doc_id % {_BENCH_MOD} = 0 OR doc_id % {_CONTAM_MOD} = 0
                            THEN ' {_PLANT}' ELSE '' END AS text
        FROM documents
    ),
    feed AS (SELECT * FROM planted WHERE doc_id % 4 IN (1, 2)),
    bench_grams AS (
        SELECT DISTINCT md5(gram) AS gh FROM (
            SELECT unnest(list_distinct(list_transform(
                       range(1, len(toks) - 6),
                       i -> array_to_string(toks[i:i+7], ' ')))) AS gram
            FROM (SELECT {words_sql("text", True)} AS toks
                  FROM planted WHERE doc_id % {_BENCH_MOD} = 0)
            WHERE len(toks) >= 8
        )
    ),
    feed_grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(toks) - 6),
                   i -> array_to_string(toks[i:i+7], ' ')))) AS gram
        FROM (SELECT doc_id, {words_sql("text", True)} AS toks
              FROM feed)
        WHERE len(toks) >= 8
    ),
    contam AS (
        SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
        FROM feed_grams g JOIN bench_grams b ON md5(g.gram) = b.gh
        GROUP BY g.doc_id
    ),
    scored AS (
        SELECT doc_id, text, {gopher_metrics_sql("t")}
        FROM (SELECT doc_id, text,
                     {words_sql("text", True)} AS t
              FROM feed)
    ),
    verdicts AS (
        SELECT *,
               CASE WHEN {GOPHER_KEEP_SQL} THEN 'keep' ELSE 'drop' END AS verdict
        FROM scored
    )
    SELECT v.doc_id, v.n_words, v.stopword_hits, v.verdict,
           CAST(len(regexp_extract_all(v.text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(v.text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(v.text, '{IPV4_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(v.text,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g'),
               '{IPV4_RE}', '<IP>', 'g')) AS scrub_md5,
           COALESCE(c.n_contaminated, 0) AS n_contaminated,
           (v.verdict = 'keep' AND COALESCE(c.n_contaminated, 0) = 0) AS kept,
           CAST(CASE WHEN v.doc_id % 4 = 1 THEN 0 ELSE 1 END AS BIGINT)
               AS micro_batch_id
    FROM verdicts v LEFT JOIN contam c USING (doc_id)
    """,
    survey="streaming-curation",
)
def r13_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming curation entry point (streaming/curation_stream.py)
    through REAL checkpoint machinery: two crawl files -> two micro-
    batches (maxFilesPerTrigger=1), each running the shared Gopher
    quality + PII scrub + benchmark-decontamination stage and writing an
    epoch-keyed output partition.

    Corpus: documents with the d18/d19 plants composed — a per-class PII
    tail (doc_id % 3) on every doc and the benchmark sentence on
    doc_id % 29 (the bench set) and % 31 (guaranteed contaminated feed
    docs).  Feed = doc_id % 4 == 1 (crawl 0) and == 2 (crawl 1); the
    bench gram index is built from the planted % 29 docs.  The oracle
    restates the whole stage analytically, INCLUDING which micro-batch
    each doc rode in (pinned by crawl-file mtime) — a sequencing bug,
    a verdict/scrub drift, or a contamination-probe miss all break it."""
    import os
    import tempfile

    from ..streaming.curation_stream import index_benchmark, stream_curate

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    plant = (k % _BENCH_MOD == 0) | (k % _CONTAM_MOD == 0)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), pii_tail(k),
            F.when(plant, F.lit(" " + _PLANT)).otherwise(F.lit("")),
        ).alias("text"),
    )

    work = tempfile.mkdtemp(prefix="r13_curation_gate_")
    feed_dir = _write_crawls(spark, work, [
        planted.filter(k % 4 == 1).select("doc_id", "text"),
        planted.filter(k % 4 == 2).select("doc_id", "text"),
    ])
    index_dir = os.path.join(work, "bench_index")
    out_dir = os.path.join(work, "curated")
    index_benchmark(planted.filter(k % _BENCH_MOD == 0), index_dir)
    q = stream_curate(spark, feed_dir, index_dir, out_dir,
                      checkpoint=os.path.join(work, "ckpt"),
                      max_files_per_trigger=1)
    q.awaitTermination(600)

    out = spark.read.parquet(out_dir).select(
        "doc_id", "n_words", "stopword_hits", "verdict",
        "n_emails", "n_phones", "n_ips",
        F.md5("scrubbed_text").alias("scrub_md5"),
        "n_contaminated", "kept",
        F.col("batch").cast("bigint").alias("micro_batch_id"),
    )
    return _materialized(spark, out, work)


# ---------------------------------------------------------------------------
# r13_state_lookup
# ---------------------------------------------------------------------------
@query(
    "r13_state_lookup",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS identifier,
           CASE WHEN c_custkey % 7 = 1 THEN 'updated-' || CAST(c_custkey AS VARCHAR)
                ELSE 'orig-' || CAST(c_custkey AS VARCHAR) END AS label
    FROM customer
    WHERE c_custkey % 7 IN (1, 3)
    """,
    survey="streaming-state-lookup",
)
def r13_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keyed serving read (streaming/entity_stream.lookup_state)
    driver-proven end-to-end: init a BUCKETED state base over a planted
    corpus, stream one crawl through the real checkpoint machinery
    (update + delete classes), then point-look-up a key per class —
    updated keys must serve the crawl's payload (the delta winner),
    deleted keys must serve nothing, untouched keys the base row.  The
    lookup reads only the keys' bucket files plus the crawl's delta (the
    poison test in tests/test_entity_state_buckets.py pins the pruning;
    this gate pins the SEMANTICS against a DuckDB oracle).

    Reference parity: the record cache's primary-key get
    (/root/reference pipeline/storage/cache/postgres.py:225)."""
    import os
    import tempfile

    from ..streaming.entity_stream import (
        init_state,
        lookup_state,
        stream_entity_builds,
    )

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey")
    ks = k.cast("string")
    uri = F.concat(F.lit("https://fixture.test/srcA/"), ks)

    def doc(label_prefix):
        return F.to_json(F.struct(
            uri.alias("id"), F.lit("Person").alias("type"),
            F.concat(F.lit(label_prefix), ks).alias("_label"),
        ))

    records = envelope(
        cust, "srcA", ks, F.lit("Person"), F.lit(DEFAULT_RECORD_TIME), doc("orig-")
    )
    crawl = cust.filter((k % 7).isin(1, 2)).select(
        k.alias("seq"),
        F.lit("2026-02-01T00:00:00").cast("timestamp").alias("end_time"),
        F.when(k % 7 == 2, F.lit("delete")).otherwise(F.lit("update"))
        .alias("change"),
        uri.alias("object_uri"),
        F.when(k % 7 == 1, doc("updated-")).alias("payload"),
    )

    indexes = empty_indexes(spark)
    work = tempfile.mkdtemp(prefix="r13_lookup_gate_")
    state_dir = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    init_state(spark, records, indexes, state_dir, buckets=64)
    feed_dir = _write_crawls(spark, work, [crawl])
    q = stream_entity_builds(spark, feed_dir, state_dir, ckpt, indexes)
    q.awaitTermination(600)

    keys = [
        r["u"] for r in cust.filter((k % 7).isin(1, 2, 3))
        .select(uri.alias("u")).collect()
    ]
    out = lookup_state(spark, state_dir, ckpt, keys).select(
        F.col("identifier"),
        F.get_json_object("data", "$._label").alias("label"),
    )
    return _materialized(spark, out, work)


# ---------------------------------------------------------------------------
# r13_dedup_stream
# ---------------------------------------------------------------------------
def _probe_oracle(planted: str, where: str, cols: str) -> str:
    """The index-probe oracle of r13_dedup_stream, r14_index_compact_probe
    and r15_empty_index_bootstrap: over the ``planted`` CTE, every
    (new_id, corpus_id) band-bucket match the ``where`` predicate admits,
    Jaccard-verified as d07 verifies, selected as ``cols``."""
    return f"""
    WITH {planted},
    {_shingles_sql("planted")},
    {_sig_sql()},
    {_bands_sql()},
    cands AS (
        SELECT DISTINCT n.id AS new_id, i.id AS corpus_id
        FROM bands n JOIN bands i
          ON n.band = i.band AND n.bh = i.bh
        WHERE {where}
    ),
    {_verify_sql("cands", "new_id", "corpus_id")}
    {_verified_sql("new_id", "corpus_id", cols)}
    """


_PROBE_COLS = f"new_id, corpus_id, {_JACCARD_SQL} AS jaccard"

_DEDUP_PLANTED_SQL = """
    planted AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 4 = 1 AND d.doc_id % 12 = 1
                        THEN COALESCE(p1.text, d.text)
                    WHEN d.doc_id % 4 = 2 AND d.doc_id % 12 = 2
                        THEN COALESCE(p2.text, d.text)
                    WHEN d.doc_id % 4 = 2 AND d.doc_id % 12 = 6
                        THEN COALESCE(p1.text, d.text)
                    ELSE d.text END AS text
        FROM documents d
        LEFT JOIN documents p1 ON p1.doc_id = d.doc_id - 1
        LEFT JOIN documents p2 ON p2.doc_id = d.doc_id - 2
        WHERE d.doc_id % 4 IN (0, 1, 2)
    )"""


# Shared by r13_dedup_stream and r14_inline_compact_stream: the oracle
# is execution-path-independent by design — mid-stream compaction must
# not move a single match row, so BOTH gates hash against this exact
# analytic recomputation.
_DEDUP_STREAM_ORACLE = _probe_oracle(
    _DEDUP_PLANTED_SQL,
    """n.id != i.id
          AND ((n.id % 4 = 1 AND i.id % 4 = 0)
               OR (n.id % 4 = 2 AND i.id % 4 IN (0, 1)))""",
    f"""{_PROBE_COLS},
           CAST(CASE WHEN new_id % 4 = 1 THEN 0 ELSE 1 END AS BIGINT)
               AS micro_batch_id""",
)


@query(
    "r13_dedup_stream",
    oracle=_DEDUP_STREAM_ORACLE,
    survey="streaming-dedup",
)
def r13_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming near-dup entry point (streaming/dedup_stream.py)
    through REAL checkpoint machinery: a persisted LSH index over the
    prev corpus (doc_id % 4 == 0), then two crawl files -> two micro-
    batches (maxFilesPerTrigger=1), each probing the index, verifying
    candidates with exact Jaccard, and FOLDING ITSELF into the index
    under its batch key — so crawl 1's planted copy of a crawl-0 doc
    (doc_id % 12 == 6 copies doc_id-1) matches ONLY because the index
    grew between micro-batches.  Plants: crawl-0 docs % 12 == 1 copy
    prev doc_id-1; crawl-1 docs % 12 == 2 copy prev doc_id-2.

    The oracle computes the ENTIRE MinHash/LSH/Jaccard construction
    analytically (the d07 SQL generators) over the planted corpus with
    the probe-time index membership stated per batch — organic near-dup
    pairs count identically on both engines, so nothing is assumed about
    the synthetic corpus."""
    out, work, _idx, _ck = _dedup_stream_run(spark, sf_dir,
                                             "r13_dedup_gate_")
    return _materialized(spark, out, work)


def _dedup_stream_run(spark, sf_dir: str, prefix: str,
                      compact_every: int | None = None):
    """The shared r13/r14 dedup-stream gate body: planted corpus, two
    crawl files through REAL checkpoint machinery, matches read back.
    Returns (matches_df, workdir, index_dir, checkpoint) so callers can
    assert index-layout invariants before materializing."""
    import os
    import tempfile

    from ..streaming.dedup_stream import index_corpus, stream_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    p1 = docs.select((k + 1).alias("doc_id"), F.col("text").alias("t1"))
    p2 = docs.select((k + 2).alias("doc_id"), F.col("text").alias("t2"))
    planted = (
        docs.join(p1, "doc_id", "left")
        .join(p2, "doc_id", "left")
        .filter(k % 4 < 3)
        .select(
            "doc_id",
            F.when((k % 4 == 1) & (k % 12 == 1), F.coalesce("t1", "text"))
            .when((k % 4 == 2) & (k % 12 == 2), F.coalesce("t2", "text"))
            .when((k % 4 == 2) & (k % 12 == 6), F.coalesce("t1", "text"))
            .otherwise(F.col("text")).alias("text"),
        )
    )

    work = tempfile.mkdtemp(prefix=prefix)
    feed_dir = _write_crawls(spark, work, [
        planted.filter(k % 4 == 1),
        planted.filter(k % 4 == 2),
    ])
    index_dir = os.path.join(work, "lsh_index")
    matches_dir = os.path.join(work, "matches")
    ckpt = os.path.join(work, "ckpt")
    index_corpus(planted.filter(k % 4 == 0), index_dir)
    q = stream_dedup(spark, feed_dir, index_dir, matches_dir,
                     checkpoint=ckpt, max_files_per_trigger=1,
                     compact_every=compact_every)
    q.awaitTermination(600)

    out = spark.read.parquet(matches_dir).select(
        "new_id", "corpus_id", "jaccard",
        F.col("micro_batch_id").cast("bigint").alias("micro_batch_id"),
    )
    return out, work, index_dir, ckpt


@query(
    "r14_inline_compact_stream",
    oracle=_DEDUP_STREAM_ORACLE,
    survey="streaming-dedup,R5",
)
def r14_inline_compact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13_dedup_stream's EXACT run with ``compact_every=1``: batch 1's
    sink folds batch 0 into the bucketed base BEFORE probing, so crawl
    1's planted match against a crawl-0 doc now rides through the
    COMPACTED base instead of the batch partition.  The oracle is
    r13_dedup_stream's verbatim — mid-stream compaction must not move a
    single match row — so the driver hash-verifies the inline
    compaction hook end to end.  The gate additionally hard-fails if
    batch 0's partition survived compaction in either tier."""
    import os

    from ..streaming.index_util import run_batch_key

    out, work, index_dir, ckpt = _dedup_stream_run(
        spark, sf_dir, "r14_inline_gate_", compact_every=1
    )
    try:
        b0 = f"batch={run_batch_key(ckpt, 0)}"
        for tier in ("bands", "shingles"):
            dirs = sorted(os.listdir(os.path.join(index_dir, tier)))
            if b0 in dirs:
                raise RuntimeError(
                    f"r14_inline_compact_stream: {tier} still holds batch "
                    f"0 ({dirs}) — the inline compact_every hook did not "
                    "fold it"
                )
    except BaseException:
        # the hard-fail path must still reclaim the workdir (the
        # module's ADVICE-r12 no-/tmp-leak rule; _materialized only
        # runs on the success path)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        raise
    return _materialized(spark, out, work)


# ---------------------------------------------------------------------------
# r14_index_compact_probe
# ---------------------------------------------------------------------------
_COMPACT_PLANTED_SQL = """
    planted AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 4 = 1 AND d.doc_id % 12 = 1
                        THEN COALESCE(p1.text, d.text)
                    WHEN d.doc_id % 4 = 2 AND d.doc_id % 12 = 2
                        THEN COALESCE(p2.text, d.text)
                    WHEN d.doc_id % 4 = 2 AND d.doc_id % 12 = 6
                        THEN COALESCE(p1.text, d.text)
                    WHEN d.doc_id % 12 = 3
                        THEN COALESCE(p3.text, d.text)
                    WHEN d.doc_id % 12 = 7
                        THEN COALESCE(p2.text, d.text)
                    WHEN d.doc_id % 12 = 11
                        THEN COALESCE(p1.text, d.text)
                    ELSE d.text END AS text
        FROM documents d
        LEFT JOIN documents p1 ON p1.doc_id = d.doc_id - 1
        LEFT JOIN documents p2 ON p2.doc_id = d.doc_id - 2
        LEFT JOIN documents p3 ON p3.doc_id = d.doc_id - 3
    )"""


@query(
    "r14_index_compact_probe",
    oracle=_probe_oracle(
        _COMPACT_PLANTED_SQL,
        """n.id != i.id
          AND n.id % 4 = 3 AND i.id % 4 IN (0, 1, 2)""",
        _PROBE_COLS,
    ),
    survey="streaming-dedup,R5",
)
def r14_index_compact_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial index compaction, driver-proven end-to-end (round 14 —
    VERDICT r13 #1): a BUCKETED LSH index (index_corpus writes base as
    one file per id-hash bucket), two streamed crawls folding under
    their batch keys, then compact_index — which rewrites ONLY the
    buckets the folding rows hash to and deletes the folded batch dirs
    inside the plan application — then a THIRD crawl probed against the
    all-in-base index with match_batch.

    Plants route a probe match through EVERY index population the
    compaction folded: probe docs (doc_id % 4 == 3) copy a prev doc
    (% 12 == 3 copies doc_id-3), a crawl-0 doc (% 12 == 7 copies
    doc_id-2), and a crawl-1 doc (% 12 == 11 copies doc_id-1) — if
    compaction lost a bucket, double-folded a batch (inflating the
    Jaccard denominator), or mis-hashed a bucket file, the probe's
    matches diverge from the oracle's analytic recomputation over the
    same planted corpus.  The gate hard-fails if compaction did not
    fold exactly the two committed batches per tier.

    Reference parity: the reference updates its reconcile indexes in
    place per crawl (/root/reference pipeline/process/base/
    index_loader.py); the bucketed fold is the lakehouse restatement."""
    import os
    import tempfile

    from ..streaming.dedup_stream import index_corpus, match_batch, stream_dedup
    from ..streaming.index_util import compact_index, read_tier_meta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    p1 = docs.select((k + 1).alias("doc_id"), F.col("text").alias("t1"))
    p2 = docs.select((k + 2).alias("doc_id"), F.col("text").alias("t2"))
    p3 = docs.select((k + 3).alias("doc_id"), F.col("text").alias("t3"))
    planted = (
        docs.join(p1, "doc_id", "left")
        .join(p2, "doc_id", "left")
        .join(p3, "doc_id", "left")
        .select(
            "doc_id",
            F.when((k % 4 == 1) & (k % 12 == 1), F.coalesce("t1", "text"))
            .when((k % 4 == 2) & (k % 12 == 2), F.coalesce("t2", "text"))
            .when((k % 4 == 2) & (k % 12 == 6), F.coalesce("t1", "text"))
            .when(k % 12 == 3, F.coalesce("t3", "text"))
            .when(k % 12 == 7, F.coalesce("t2", "text"))
            .when(k % 12 == 11, F.coalesce("t1", "text"))
            .otherwise(F.col("text")).alias("text"),
        )
    )

    work = tempfile.mkdtemp(prefix="r14_compact_gate_")
    try:
        feed_dir = _write_crawls(spark, work, [
            planted.filter(k % 4 == 1),
            planted.filter(k % 4 == 2),
        ])
        index_dir = os.path.join(work, "lsh_index")
        index_corpus(planted.filter(k % 4 == 0), index_dir, buckets=32)
        ckpt = os.path.join(work, "ckpt")
        q = stream_dedup(spark, feed_dir, index_dir, os.path.join(work, "m"),
                         checkpoint=ckpt, max_files_per_trigger=1)
        q.awaitTermination(600)

        folded = compact_index(spark, index_dir, ckpt)
        if folded != {"bands": 2, "shingles": 2}:
            raise RuntimeError(
                f"r14_index_compact_probe: expected to fold 2 batches per "
                f"tier, got {folded}"
            )
        for tier in ("bands", "shingles"):
            if read_tier_meta(index_dir, tier) is None:
                raise RuntimeError(
                    f"r14_index_compact_probe: {tier} base lost its bucket "
                    "meta across compaction"
                )
            left = sorted(os.listdir(os.path.join(index_dir, tier)))
            if left != ["batch=base"]:
                raise RuntimeError(
                    f"r14_index_compact_probe: {tier} still holds {left} "
                    "after compaction — folded batch dirs must be deleted "
                    "inside the plan application"
                )

        out = match_batch(
            spark, planted.filter(k % 4 == 3), index_dir, append=False
        ).select("new_id", "corpus_id", "jaccard")
    except BaseException:
        # every hard-fail path (the RuntimeErrors above, a stream crash)
        # must still reclaim the workdir — the module's ADVICE-r12
        # no-/tmp-leak rule; _materialized only runs on the success path
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        raise
    return _materialized(spark, out, work)


# ---------------------------------------------------------------------------
# r15_empty_index_bootstrap
# ---------------------------------------------------------------------------
_BOOTSTRAP_PLANTED_SQL = """
    planted AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 6 = 2 THEN COALESCE(p1.text, d.text)
                    WHEN d.doc_id % 6 = 5 THEN COALESCE(p2.text, d.text)
                    ELSE d.text END AS text
        FROM documents d
        LEFT JOIN documents p1 ON p1.doc_id = d.doc_id - 1
        LEFT JOIN documents p2 ON p2.doc_id = d.doc_id - 2
    )"""


@query(
    "r15_empty_index_bootstrap",
    oracle=_probe_oracle(
        _BOOTSTRAP_PLANTED_SQL,
        "n.id % 3 = 2 AND i.id % 3 IN (0, 1)",
        _PROBE_COLS,
    ),
    survey="streaming-dedup,R5",
)
def r15_empty_index_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap a shared LSH index from NOTHING, driver-proven (round
    15 — the ADVICE r14 empty-input regression, end to end): index_corpus
    over an EMPTY corpus writes a readable seeded base (one
    schema-bearing empty bucket file per tier — the flat layout's
    working empty-init, restored for the bucketed layout), two streamed
    crawls fold onto that empty base through real checkpoint machinery,
    compact_index folds them in partially (the seeded meta survives, so
    the bucketed path — not the legacy whole-rewrite — runs), and a
    probe batch matches against the all-in-base index.

    Plants: every probe doc (doc_id % 3 == 2) is an exact copy of a
    crawl doc — % 6 == 2 copies doc_id-1 (a crawl-1 doc), % 6 == 5
    copies doc_id-2 (a crawl-0 doc) — so a broken empty-seed read, a
    lost fold onto the seeded base, or a meta dropped across compaction
    diverges from the oracle's analytic recomputation.  Hard-fails if
    the empty init is unreadable, if compaction did not fold exactly
    the two crawl batches per tier, or if the bucket meta was lost.

    Reference parity: the reference bootstraps its reconcile indexes
    empty and populates them crawl by crawl (/root/reference
    pipeline/process/base/index_loader.py load path); this is the
    lakehouse restatement of day-zero onboarding."""
    import os
    import tempfile

    from ..streaming.dedup_stream import index_corpus, match_batch, stream_dedup
    from ..streaming.index_util import compact_index, read_tier_meta

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    p1 = docs.select((k + 1).alias("doc_id"), F.col("text").alias("t1"))
    p2 = docs.select((k + 2).alias("doc_id"), F.col("text").alias("t2"))
    planted = (
        docs.join(p1, "doc_id", "left")
        .join(p2, "doc_id", "left")
        .select(
            "doc_id",
            F.when(k % 6 == 2, F.coalesce("t1", "text"))
            .when(k % 6 == 5, F.coalesce("t2", "text"))
            .otherwise(F.col("text")).alias("text"),
        )
    )

    work = tempfile.mkdtemp(prefix="r15_bootstrap_gate_")
    try:
        index_dir = os.path.join(work, "lsh_index")
        # day zero: NO corpus yet — the seeded empty base must read back
        index_corpus(planted.limit(0), index_dir, buckets=32)
        for tier in ("bands", "shingles"):
            if read_tier_meta(index_dir, tier) is None:
                raise RuntimeError(
                    f"r15_empty_index_bootstrap: empty init left no "
                    f"bucket meta in {tier}"
                )
        seeded = spark.read.parquet(os.path.join(index_dir, "shingles"))
        if seeded.count() != 0:
            raise RuntimeError(
                "r15_empty_index_bootstrap: empty init wrote rows"
            )

        feed_dir = _write_crawls(spark, work, [
            planted.filter(k % 3 == 0),
            planted.filter(k % 3 == 1),
        ])
        ckpt = os.path.join(work, "ckpt")
        q = stream_dedup(spark, feed_dir, index_dir,
                         os.path.join(work, "m"), checkpoint=ckpt,
                         max_files_per_trigger=1)
        q.awaitTermination(600)

        folded = compact_index(spark, index_dir, ckpt)
        if folded != {"bands": 2, "shingles": 2}:
            raise RuntimeError(
                f"r15_empty_index_bootstrap: expected to fold 2 batches "
                f"per tier, got {folded}"
            )
        for tier in ("bands", "shingles"):
            meta = read_tier_meta(index_dir, tier)
            if meta is None or meta.get("buckets") != 32:
                raise RuntimeError(
                    f"r15_empty_index_bootstrap: {tier} lost its seeded "
                    f"bucket meta across compaction (got {meta})"
                )

        out = match_batch(
            spark, planted.filter(k % 3 == 2), index_dir, append=False
        ).select("new_id", "corpus_id", "jaccard")
    except BaseException:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        raise
    return _materialized(spark, out, work)


# ---------------------------------------------------------------------------
# r15_lm_curation_stream
# ---------------------------------------------------------------------------
from .text5 import _LM_BIGRAMS, _LM_REF, lm_score_sql, lm_train_sql  # noqa: E402


@query(
    "r15_lm_curation_stream",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               {words_sql("text", True)} AS t
        FROM documents
    ),
    {lm_train_sql("toks", f"source IN {_LM_REF} AND ")},
    doc_big AS (
        SELECT doc_id, lang, {_LM_BIGRAMS}
        FROM toks WHERE len(t) >= 2
    ),
    fl AS (
        SELECT doc_id, lang, n_bigrams, psum // n_bigrams AS fluency_fp
        FROM ({lm_score_sql("doc_big")})
    ),
    ref_nt AS (
        SELECT f.lang, f.fluency_fp,
               ntile(3) OVER (PARTITION BY f.lang
                              ORDER BY f.fluency_fp DESC, f.doc_id) AS nt
        FROM fl f JOIN documents d USING (doc_id)
        WHERE d.source IN {_LM_REF}
    ),
    cuts AS (
        SELECT lang,
               MIN(CASE WHEN nt = 1 THEN fluency_fp END) AS head_min,
               MIN(CASE WHEN nt <= 2 THEN fluency_fp END) AS mid_min
        FROM ref_nt GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           CAST(COALESCE(f.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(f.fluency_fp, -1) AS BIGINT) AS fluency_fp,
           CASE WHEN f.fluency_fp IS NULL THEN 'unscored'
                WHEN c.head_min IS NOT NULL AND f.fluency_fp >= c.head_min
                    THEN 'head'
                WHEN c.mid_min IS NOT NULL AND f.fluency_fp >= c.mid_min
                    THEN 'middle'
                ELSE 'tail' END AS lm_bucket,
           CAST(d.doc_id % 2 AS BIGINT) AS micro_batch_id
    FROM documents d
    LEFT JOIN fl f USING (doc_id)
    LEFT JOIN cuts c ON d.lang = c.lang
    """,
    survey="streaming-lm-quality",
)
def r15_lm_curation_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming LM-quality stage end-to-end: ``index_lm`` trains
    the d56 bigram LM on the trusted slice and persists it WITH the
    per-language tercile cutoffs; ``stream_lm_bucket`` then scores two
    crawl files as two micro-batches (maxFilesPerTrigger=1) against the
    persisted model and buckets each document by scan-side cutoff
    comparison — the exact 100 TB substitution d56's docstring promises
    for its test-SF tercile window (CCNet's deployment shape: train
    once on the trusted corpus, score the crawl incrementally).

    The oracle restates the whole chain analytically — LM training,
    fixed-point scoring, the reference-slice ntile cutoffs, the bucket
    comparison, and which micro-batch each doc rode in (pinned by
    crawl-file mtime) — so a scoring drift, a cutoff drift, a
    batch/stream divergence or a sequencing bug all break the hash."""
    import os
    import shutil
    import tempfile

    from ..streaming.curation_stream import index_lm, stream_lm_bucket

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    work = tempfile.mkdtemp(prefix="r15_lm_gate_")
    try:
        feed_dir = _write_crawls(spark, work, [
            docs.filter(F.col("doc_id") % 2 == 0)
            .select("doc_id", "lang", "text"),
            docs.filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "lang", "text"),
        ])
        index_dir = os.path.join(work, "lm_index")
        index_lm(
            spark,
            docs.filter(F.col("source").isin(*_LM_REF))
            .select("doc_id", "lang", "text"),
            index_dir,
        )
        out_dir = os.path.join(work, "bucketed")
        q = stream_lm_bucket(
            spark, feed_dir, index_dir, out_dir,
            checkpoint=os.path.join(work, "ckpt"),
            max_files_per_trigger=1,
        )
        q.awaitTermination(600)
        out = spark.read.parquet(out_dir).select(
            "doc_id", "lang", "n_bigrams", "fluency_fp", "lm_bucket",
            F.col("batch").cast("bigint").alias("micro_batch_id"),
        )
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    return _materialized(spark, out, work)
