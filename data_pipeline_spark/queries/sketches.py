"""Sketch-based corpus profiling — the one-pass, mergeable, tiny-output
operators a 100 TB ingest runs FIRST on unknown data: cardinality
(HyperLogLog), heavy hitters (count-min), and length quantiles
(log-histogram).  Beyond-reference surface (the reference profiles its
corpora offline; analog: the record-count / top-k reports of
/root/reference pipeline CLI `counts` and A14/A16) re-expressed as
distributed sketches.

Scale posture shared by all three: ONE scan + token explode, then a
map-side partial aggregation that collapses the shuffle to the sketch's
fixed size (256 HLL registers / 4x1024 CMS counters / ~40 histogram
bins) — exchange volume is O(sketch x partitions) regardless of corpus
size, and every sketch merges associatively (MAX / SUM per cell), which
is exactly how it would combine across 1000 executors or across daily
corpus increments.

Determinism contract: every hash primitive is md5-hex arithmetic
available identically in Spark and DuckDB (`conv`/`'0x'||` hex casts,
`bin`/`printf('%%b',..)` bit lengths, `<<` shifts); the HLL inverse-power
sum accumulates in DECIMAL(38,34) (exact: 2^-33 terminates at 33 decimal
digits) so the estimate is independent of partitioning and engine.  The
small-range linear-counting correction (m*ln(m/V)) is deliberately NOT
applied in-engine: ln() bits are libm-dependent across engines, so the
query emits the raw estimate plus the zero-register count and leaves the
correction to the caller (documented trade, not an oversight).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.strings import words, words_sql
from .dedup import _tier
from .registry import query

# alpha_m * m^2 for m=256 registers: 0.7213/(1+1.079/256) * 65536.
_HLL_ALPHA_M2 = 47072.71267120224

# Count-min geometry: 4 rows x 1024 slots (disjoint 3-hex md5 windows).
_CMS_DEPTHS = 4
_CMS_WIDTH = 1024

# Probe tokens for the CMS point-query demonstration — the language
# marker vocabulary (queries/text.py) so every probe exists in-corpus.
_CMS_PROBES = (
    "the", "fast", "small", "data", "key",
    "order", "window", "batch", "stream", "spark",
)


def _tokens(docs: DataFrame) -> DataFrame:
    """(source, tok): the exploded whitespace tokens — the same tokenizer
    every text-family query uses (d03 et al.)."""
    return (
        docs.select(
            "source",
            F.explode(words(F.col("text"), True)).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


_TOK_SQL = f"""
      SELECT source,
             unnest({words_sql("text", True)}) AS tok
      FROM documents
"""


def hll_registers(docs: DataFrame) -> DataFrame:
    """(source, reg, m): the per-source HLL sketch relation — register-
    wise MAX of rho over the token hashes.  Associative and mergeable:
    the MAX of per-batch register relations equals the register relation
    of the concatenated corpus, which is what makes this THE streaming /
    incremental profile state (streaming/sketch_stream.py folds exactly
    this relation; the r08 gate driver-verifies the fold identity)."""
    h = F.md5(F.col("tok"))
    rv = _tokens(docs).select(
        "source",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("reg"),
        F.conv(F.substring(h, 3, 8), 16, 10).cast("long").alias("v"),
    )
    rr = rv.select(
        "source",
        "reg",
        F.when(F.col("v") == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(F.col("v"))))
        .alias("rho"),
    )
    return rr.groupBy("source", "reg").agg(F.max("rho").alias("m"))


def merge_registers(regs: DataFrame) -> DataFrame:
    """MAX-merge a register relation that may hold several sketches per
    (source, reg) — per-batch partials, per-day increments, or
    per-executor shards all combine through this one fold."""
    return regs.groupBy("source", "reg").agg(F.max("m").alias("m"))


def hll_estimate(regs: DataFrame) -> DataFrame:
    """Per-source + merged-'__all__' raw HLL estimates from a register
    relation.  MAX-merges internally first, so the function is TOTAL
    over any register relation — un-merged per-batch partials included
    (m_hit counts rows; fed duplicates per (source, reg) it would
    otherwise report >256 registers and a nonsense estimate, silently).
    The merge is one aggregate over sketch-sized data — free.  See the
    module docstring for the DECIMAL inverse-power accumulation and the
    deliberate caller-side linear-counting correction."""
    regs = merge_registers(regs)
    merged = (
        regs.groupBy("reg")
        .agg(F.max("m").alias("m"))
        .select(F.lit("__all__").alias("source"), "reg", "m")
    )
    allregs = regs.unionByName(merged)
    # shiftleft's Python wrapper wants an int amount; the SQL form shifts
    # by a column — 1<<m then exact double division (2^-m is a power of two).
    inv = F.lit(1.0) / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), m) AS DOUBLE)")
    agg = allregs.groupBy("source").agg(
        F.count(F.lit(1)).alias("m_hit"),
        F.sum(inv.cast("decimal(38,34)")).alias("s"),
    )
    return agg.select(
        "source",
        F.col("m_hit").cast("long").alias("registers_hit"),
        (F.lit(256) - F.col("m_hit")).cast("long").alias("registers_zero"),
        (
            F.lit(_HLL_ALPHA_M2)
            / ((F.lit(256) - F.col("m_hit")).cast("decimal(38,34)") + F.col("s")).cast(
                "double"
            )
        ).alias("est_distinct_raw"),
    )


_D42_ORACLE = f"""
    WITH tok AS ({_TOK_SQL}),
    h AS (
      SELECT source, md5(tok) AS h FROM tok WHERE tok <> ''
    ),
    rv AS (
      SELECT source,
             CAST(CAST(('0x' || substr(h, 1, 2)) AS UBIGINT) AS BIGINT) AS reg,
             CAST(CAST(('0x' || substr(h, 3, 8)) AS UBIGINT) AS BIGINT) AS v
      FROM h
    ),
    rr AS (
      SELECT source, reg,
             CASE WHEN v = 0 THEN 33 ELSE 33 - length(printf('%b', v)) END AS rho
      FROM rv
    ),
    regs AS (
      SELECT source, reg, MAX(rho) AS m FROM rr GROUP BY source, reg
    ),
    merged AS (
      SELECT '__all__' AS source, reg, MAX(m) AS m FROM regs GROUP BY reg
    ),
    allregs AS (
      SELECT * FROM regs UNION ALL SELECT * FROM merged
    ),
    agg AS (
      SELECT source,
             COUNT(*) AS m_hit,
             SUM(CAST(1.0 / CAST(CAST(1 AS BIGINT) << m AS DOUBLE)
                      AS DECIMAL(38,34))) AS s
      FROM allregs GROUP BY source
    )
    SELECT source,
           CAST(m_hit AS BIGINT) AS registers_hit,
           CAST(256 - m_hit AS BIGINT) AS registers_zero,
           {_HLL_ALPHA_M2!r} / CAST(CAST(256 - m_hit AS DECIMAL(38,34)) + s
                                    AS DOUBLE) AS est_distinct_raw
    FROM agg
    """


@query("d42_hll_cardinality", oracle=_D42_ORACLE, survey="profile-hll")
def d42_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token cardinality per source plus the merged
    '__all__' sketch (register-wise MAX — the associative merge that
    combines per-executor or per-day sketches at 100 TB).  m=256
    registers from the first md5 hex byte; rho from the bit length of
    the next 32 hash bits.  The shuffle after the map-side partial MAX
    is <= 256 rows per source; the estimate is the raw alpha*m^2/sum
    form with the zero-register count emitted alongside (see module
    docstring for why linear counting stays caller-side).  Composed from
    hll_registers + hll_estimate — the same functions the streaming
    profile fold executes per micro-batch."""
    docs = load_table(spark, sf_dir, "documents")
    return hll_estimate(hll_registers(docs))


@query(
    "r08_sketch_fold_gate",
    oracle=_D42_ORACLE,
    survey="profile-hll,R5",
)
def r08_sketch_fold_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming profile fold's batch-equivalent path, as a declared
    gate (the v05 pattern: a deterministic split plays the stream): the
    corpus arrives as three doc_id%3 'micro-batches', each builds its
    OWN register relation (hll_registers — exactly what
    streaming/sketch_stream.py folds per micro-batch), the partials
    MAX-merge (merge_registers), and the estimate reads the merged
    state.  The oracle is d42's one-shot SQL verbatim, so the driver
    hash-verifies the fold identity itself: batch-wise folding must
    reproduce the single-pass sketch bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    parts = [
        hll_registers(docs.filter(F.col("doc_id") % 3 == i)) for i in range(3)
    ]
    partials = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return hll_estimate(merge_registers(partials))


def _probe_list_sql() -> str:
    return ", ".join(f"('{t}')" for t in _CMS_PROBES)


def slots_of_md5(tok_col: F.Column) -> F.Column:
    """array of (depth, slot) CMS cell coordinates from ONE md5 of the
    token: row d hashes with the d-th disjoint 3-hex window."""
    h = F.md5(tok_col)
    return F.array(
        *[
            F.struct(
                F.lit(d).alias("depth"),
                (
                    F.conv(F.substring(h, 1 + 3 * d, 3), 16, 10).cast("long")
                    % _CMS_WIDTH
                ).alias("slot"),
            )
            for d in range(_CMS_DEPTHS)
        ]
    )


def cms_cells(docs: DataFrame) -> DataFrame:
    """(depth, slot, c): the count-min sketch relation over the corpus's
    token stream — at most _CMS_DEPTHS x _CMS_WIDTH rows regardless of
    corpus size.  LINEAR (cells merge by SUM): the cell counts of
    concatenated corpora equal the SUM-merge of their per-part cells,
    which is what makes this the streaming / incremental frequency state
    (streaming/sketch_stream.py folds exactly this relation; the r09
    gate driver-verifies the fold identity).  Unlike the HLL registers,
    SUM is NOT idempotent — a duplicated fold double-counts — so the
    batch-keyed overwrite layout carries the whole at-least-once
    contract for this sketch (see fold_cms_batch)."""
    toks = _tokens(docs).select("tok")
    return (
        toks.select(F.explode(slots_of_md5(F.col("tok"))).alias("ds"))
        .select("ds.depth", "ds.slot")
        .groupBy("depth", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def merge_cells(cells: DataFrame) -> DataFrame:
    """SUM-merge a cell relation holding several sketch partials —
    per-batch, per-day or per-executor CMS shards combine through this
    one linear fold."""
    return cells.groupBy("depth", "slot").agg(F.sum("c").alias("c"))


def cms_probe_estimates(spark: SparkSession, cells: DataFrame) -> DataFrame:
    """(token, cms_est) point queries for the marker vocabulary against a
    (merged) cell relation: min over the token's _CMS_DEPTHS cells.  The
    probe-slot relation is 40 rows — always broadcast."""
    probes = spark.createDataFrame([(t,) for t in _CMS_PROBES], "token string")
    pslot = probes.select(
        "token", F.explode(slots_of_md5(F.col("token"))).alias("ds")
    ).select("token", "ds.depth", "ds.slot")
    return (
        cells.join(F.broadcast(pslot), ["depth", "slot"])
        .groupBy("token")
        .agg(F.min("c").alias("cms_est"))
    )


_D43_ORACLE = f"""
    WITH tok AS ({_TOK_SQL}),
    t2 AS (SELECT tok FROM tok WHERE tok <> ''),
    depths AS (SELECT unnest(range(0, {_CMS_DEPTHS})) AS depth),
    cells AS (
      SELECT depth,
             CAST(CAST(('0x' || substr(md5(tok), 1 + 3 * depth, 3))
               AS UBIGINT) AS BIGINT) % {_CMS_WIDTH} AS slot,
             COUNT(*) AS c
      FROM t2 CROSS JOIN depths
      GROUP BY depth, slot
    ),
    probes(token) AS (VALUES {_probe_list_sql()}),
    pslot AS (
      SELECT token, depth,
             CAST(CAST(('0x' || substr(md5(token), 1 + 3 * depth, 3))
               AS UBIGINT) AS BIGINT) % {_CMS_WIDTH} AS slot
      FROM probes CROSS JOIN depths
    ),
    est AS (
      SELECT token, MIN(c) AS cms_est
      FROM pslot JOIN cells USING (depth, slot)
      GROUP BY token
    ),
    tru AS (
      SELECT tok AS token, COUNT(*) AS true_cnt
      FROM t2 WHERE tok IN ({", ".join(f"'{t}'" for t in _CMS_PROBES)})
      GROUP BY tok
    )
    SELECT token, cms_est, true_cnt
    FROM est JOIN tru USING (token)
    """


@query("d43_cms_heavy_hitters", oracle=_D43_ORACLE, survey="profile-cms")
def d43_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over token frequencies (4 rows x 1024 counters)
    with point-query estimates for the marker vocabulary, emitted next
    to the true counts so the one-sided error (cms_est >= true_cnt,
    property-tested) is visible.  The sketch build is the scale story:
    the 4x explode collapses map-side to <= 4096 counter cells per
    partition before the exchange, and cells merge by SUM — the same
    associativity that unions per-executor or per-increment sketches at
    100 TB.  The 4 row-hashes are disjoint 3-hex windows of ONE md5 per
    token (one hash invocation, not 4 salted ones; 12-bit windows of an
    md5 are pairwise independent for CMS purposes) — measured honestly
    at ~1.1x on the idle 30x corpus (the build is explode/partial-agg
    bound, not hash bound), kept for the weaker per-token codegen, not
    as a claimed big win.  Probe lookups broadcast the 40-row
    probe-slot relation against the tiny sketch.  Composed from
    cms_cells + cms_probe_estimates — the same functions the streaming
    CMS fold executes per micro-batch."""
    docs = load_table(spark, sf_dir, "documents")
    est = cms_probe_estimates(spark, cms_cells(docs))
    tru = (
        _tokens(docs)
        .filter(F.col("tok").isin(*_CMS_PROBES))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .withColumnRenamed("tok", "token")
    )
    return est.join(tru, "token").select("token", "cms_est", "true_cnt")


@query("r09_cms_fold_gate", oracle=_D43_ORACLE, survey="profile-cms,R5")
def r09_cms_fold_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming CMS fold's batch-equivalent path, as a declared gate
    (the r08/v05 pattern: a deterministic split plays the stream): the
    corpus arrives as three doc_id%3 'micro-batches', each builds its
    OWN cell relation (cms_cells — exactly what
    streaming/sketch_stream.py folds per micro-batch), the partials
    SUM-merge (merge_cells — CMS is linear, so the merged sketch must
    equal the one-shot sketch EXACTLY, not approximately), and the
    probe estimates read the merged state.  The oracle is d43's
    one-shot SQL verbatim, so the driver hash-verifies the fold
    identity itself.  Where the HLL fold (r08) is also idempotent under
    duplicated folds (MAX), the CMS fold is NOT — SUM double-counts —
    which is why the streaming layout's batch-keyed overwrite +
    committed-batch compaction carry the whole at-least-once contract
    for this sketch (tested in test_io_streaming.py)."""
    docs = load_table(spark, sf_dir, "documents")
    parts = [cms_cells(docs.filter(F.col("doc_id") % 3 == i)) for i in range(3)]
    partials = parts[0].unionByName(parts[1]).unionByName(parts[2])
    est = cms_probe_estimates(spark, merge_cells(partials))
    tru = (
        _tokens(docs)
        .filter(F.col("tok").isin(*_CMS_PROBES))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .withColumnRenamed("tok", "token")
    )
    return est.join(tru, "token").select("token", "cms_est", "true_cnt")


def hist_bins(docs: DataFrame) -> DataFrame:
    """(source, bin, n): per-source log2 token-length histogram — at most
    ~40 bins per source regardless of corpus size.  LINEAR (bins merge by
    SUM), so per-batch histograms fold exactly like the CMS cells: the
    SUM-merge of per-part histograms equals the one-shot histogram, which
    is what makes this the streaming quantile state (the r10 gate
    driver-verifies the fold identity).  Same at-least-once posture as
    the CMS tier: SUM is not idempotent — the batch-keyed overwrite
    layout carries the retry contract."""
    n_tokens = F.size(words(F.col("text"), False))
    binned = docs.select(
        "source",
        F.when(n_tokens <= 0, F.lit(0))
        .otherwise(F.length(F.bin(n_tokens.cast("long"))))
        .alias("bin"),
    )
    return binned.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("n"))


def merge_bins(hist: DataFrame) -> DataFrame:
    """SUM-merge a histogram relation holding several partials."""
    return hist.groupBy("source", "bin").agg(F.sum("n").alias("n"))


def hist_quantiles(spark: SparkSession, hist: DataFrame) -> DataFrame:
    """p50/p90/p99 token-length quantile bins from a (merged) histogram
    relation.  Integer cross-multiplication thresholds (cum*qden >=
    total*qnum) — engine- and partitioning-independent; the window and
    the quantile-spec join run over histogram-sized data."""
    w_cum = W.partitionBy("source").orderBy("bin")
    w_all = W.partitionBy("source")
    cum = hist.select(
        "source",
        "bin",
        F.sum("n").over(w_cum).alias("cum_n"),
        F.sum("n").over(w_all).alias("total_n"),
    )
    qs = spark.createDataFrame(
        [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
        "quantile string, qnum int, qden int",
    )
    hit = (
        cum.join(F.broadcast(qs))
        .filter(F.col("cum_n") * F.col("qden") >= F.col("total_n") * F.col("qnum"))
        .groupBy("source", "quantile")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.select(
        "source",
        "quantile",
        "bin",
        F.when(F.col("bin") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), bin - 1)"))
        .alias("tokens_lo"),
        (F.expr("shiftleft(CAST(1 AS BIGINT), bin)") - 1)
        .cast("long")
        .alias("tokens_hi"),
    )


_D44_ORACLE = f"""
    WITH lens AS (
      SELECT source,
             len({words_sql("text", False)}) AS n_tokens
      FROM documents
    ),
    binned AS (
      SELECT source,
             CASE WHEN n_tokens <= 0 THEN 0
                  ELSE length(printf('%b', CAST(n_tokens AS BIGINT))) END AS bin
      FROM lens
    ),
    hist AS (
      SELECT source, bin, COUNT(*) AS n FROM binned GROUP BY source, bin
    ),
    cum AS (
      SELECT source, bin, n,
             SUM(n) OVER (PARTITION BY source ORDER BY bin) AS cum_n,
             SUM(n) OVER (PARTITION BY source) AS total_n
      FROM hist
    ),
    qs(quantile, qnum, qden) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)),
    hit AS (
      SELECT c.source, q.quantile, MIN(c.bin) AS bin
      FROM cum c CROSS JOIN qs q
      WHERE c.cum_n * q.qden >= c.total_n * q.qnum
      GROUP BY c.source, q.quantile
    )
    SELECT source, quantile, bin,
           CASE WHEN bin = 0 THEN 0
                ELSE CAST(CAST(1 AS BIGINT) << (bin - 1) AS BIGINT) END AS tokens_lo,
           CAST((CAST(1 AS BIGINT) << bin) - 1 AS BIGINT) AS tokens_hi
    FROM hit
    """


@query("d44_token_histogram_quantiles", oracle=_D44_ORACLE, survey="profile-quantile")
def d44_token_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length quantiles (p50/p90/p99) from a log2
    histogram — the mergeable quantile shape (bins SUM associatively;
    exact order statistics at 100 TB would need a full sort).  The
    quantile thresholds use integer cross-multiplication
    (cum*qden >= total*qnum), not float multiplication, so the answer
    is engine- and partitioning-independent.  One scan, ~40-bin
    shuffle, window over the tiny histogram.  Composed from hist_bins +
    hist_quantiles — the same functions the streaming profile fold
    executes per micro-batch."""
    docs = load_table(spark, sf_dir, "documents")
    return hist_quantiles(spark, hist_bins(docs))


@query("r10_hist_fold_gate", oracle=_D44_ORACLE, survey="profile-quantile,R5")
def r10_hist_fold_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming histogram fold's batch-equivalent path, as a
    declared gate (the r08/r09 pattern): three doc_id%3 'micro-batches'
    each build their OWN histogram (hist_bins — what
    streaming/sketch_stream.py folds per micro-batch), the partials
    SUM-merge (merge_bins — linear, so the merged histogram equals the
    one-shot histogram EXACTLY), and the quantile read runs over the
    merged state.  The oracle is d44's one-shot SQL verbatim, so the
    driver hash-verifies the fold identity.  Same at-least-once posture
    as the CMS fold: SUM is not idempotent, the batch-keyed overwrite
    layout carries the retry contract (tested in test_io_streaming.py)."""
    docs = load_table(spark, sf_dir, "documents")
    parts = [hist_bins(docs.filter(F.col("doc_id") % 3 == i)) for i in range(3)]
    partials = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return hist_quantiles(spark, merge_bins(partials))


# Fixed-threshold theta sketch: keep every distinct token hash whose md5
# starts with '0' (p = 1/16 of the hash space).  Unlike HLL registers,
# the retained hashes form a uniform SAMPLE of the distinct-token set,
# so sketches support INTERSECTION — the set operation HLL fundamentally
# cannot do (HLL registers only merge by union).  est_distinct = n / p.
_THETA_DEN = 16  # p = 1/16: first md5 hex char == '0'


def theta_sample(docs: DataFrame) -> DataFrame:
    """The per-source theta sketch: distinct (source, md5) pairs under
    the threshold.  The theta filter runs BEFORE the dedup exchange (the
    plan pin in test_plan_quality), so no shuffle ever carries the
    unsampled token stream; in production this relation is the persisted
    per-day sketch table downstream comparisons read."""
    h = F.md5(F.col("tok"))
    return (
        _tokens(docs)
        .filter(F.substring(h, 1, 1) == "0")
        .select("source", h.alias("h"))
        .distinct()
    )


@query(
    "d45_theta_sketch_overlap",
    oracle=f"""
    WITH tok AS ({_TOK_SQL}),
    samp AS (
      SELECT DISTINCT source, md5(tok) AS h
      FROM tok
      WHERE tok <> '' AND substr(md5(tok), 1, 1) = '0'
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    per AS (
      SELECT s.source, COALESCE(c.n, 0) AS n
      FROM srcs s
      LEFT JOIN (SELECT source, COUNT(*) AS n FROM samp GROUP BY source) c
        USING (source)
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
      FROM samp a JOIN samp b USING (h)
      WHERE a.source < b.source
      GROUP BY a.source, b.source
    ),
    pairs AS (
      SELECT pa.source AS src_a, pb.source AS src_b, pa.n AS n_a, pb.n AS n_b
      FROM per pa JOIN per pb ON pa.source < pb.source
    )
    SELECT p.src_a, p.src_b,
           CAST(p.n_a AS BIGINT) AS n_a,
           CAST(p.n_b AS BIGINT) AS n_b,
           CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
           CAST(p.n_a + p.n_b - COALESCE(i.n_inter, 0) AS BIGINT) AS n_union,
           CAST({_THETA_DEN} * COALESCE(i.n_inter, 0) AS BIGINT)
             AS est_inter_distinct,
           CASE WHEN p.n_a + p.n_b - COALESCE(i.n_inter, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                  / CAST(p.n_a + p.n_b - COALESCE(i.n_inter, 0) AS DOUBLE)
           END AS jaccard_est
    FROM pairs p
    LEFT JOIN inter i ON p.src_a = i.src_a AND p.src_b = i.src_b
    """,
    survey="profile-theta",
)
def d45_theta_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-source vocabulary overlap from fixed-threshold
    theta sketches — the corpus-vs-corpus comparison a 100 TB ingest
    answers WITHOUT a pairwise scan join: each source keeps the distinct
    token hashes falling under theta (md5 first hex char '0', p=1/16),
    and any two sketches intersect/union directly because they are
    uniform samples of the SAME hash space.  HLL (d42) cannot do this:
    registers merge only by union.  est_inter_distinct = 16 * n_inter is
    the unbiased distinct-intersection estimate; jaccard_est = n_inter /
    n_union estimates the vocabulary Jaccard.

    Scale posture: the theta filter runs BEFORE the distinct exchange,
    so the shuffle carries <= vocab/16 fixed-width (source, 32-hex)
    rows; per-day or per-executor sketches persist and compare later
    with no rescan.  The sketch-vs-sketch join is sample-sized; the
    final pair frame is |sources|^2 rows (broadcast nested loop over two
    ~20-row aggregates — bounded, deliberate).  All arithmetic is
    integer counts plus one exact long->double division, so Spark and
    DuckDB agree bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    samp = _tier(spark, sf_dir, "theta_sample", lambda: theta_sample(docs))
    # every source keeps its pair rows even with an EMPTY sketch (a
    # <~16-token vocabulary can sample nothing): count from the distinct
    # source relation, not from the sample — else the source silently
    # vanishes from the overlap report
    srcs = docs.select("source").distinct()
    per = srcs.join(
        samp.groupBy("source").agg(F.count(F.lit(1)).alias("n")), "source", "left"
    ).select("source", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    sa = samp.select(F.col("source").alias("src_a"), "h")
    sb = samp.select(F.col("source").alias("src_b"), "h")
    inter = (
        sa.join(sb, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pa = F.broadcast(per.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")))
    pb = F.broadcast(per.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")))
    pairs = pa.join(pb, F.col("src_a") < F.col("src_b"))
    joined = pairs.join(inter, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias("n_inter"),
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return joined.select(
        "src_a",
        "src_b",
        "n_a",
        "n_b",
        "n_inter",
        n_union.cast("long").alias("n_union"),
        (F.lit(_THETA_DEN) * F.col("n_inter")).cast("long").alias("est_inter_distinct"),
        F.when(n_union == 0, F.lit(0.0))
        .otherwise(F.col("n_inter").cast("double") / n_union.cast("double"))
        .alias("jaccard_est"),
    )
