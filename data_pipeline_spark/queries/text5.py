"""Round-15 corpus-curation operators: DSIR-shaped importance
resampling toward a target domain, and vocabulary-coverage filtering.

Both are training-data selection methods a 100 TB pipeline runs between
dedup and packing: DSIR (Xie et al. 2023, arXiv:2302.03169) picks raw
documents whose hashed n-gram distribution looks like a small trusted
target set; vocabulary-coverage filtering (the C4/CCNet family of
lexicon heuristics) drops documents dominated by out-of-vocabulary
tokens.  Everything is integer-exact by construction — per-feature
likelihood ratios are fixed-point BIGINT arithmetic, not ``ln()``
(libm bits differ across engines; the sketches module pins the same
rule) — so DuckDB replays both operators bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.strings import words, words_sql
from .registry import query

_DSIR_BUCKETS = 4096  # hashed feature space (Xie et al. use 10k)
_DSIR_SCALE = 1_000_000  # fixed-point scale for the per-feature ratio
_DSIR_TARGET = "src0"  # the trusted target domain in the testdata


def _grams(df: DataFrame) -> DataFrame:
    """Hashed uni+bigram occurrences, one row per occurrence:
    (doc_id, fh).  The feature hash is the d23 md5 device (engine-
    portable, unlike xxhash64 which DuckDB lacks): first 8 md5 hex
    digits as an integer, mod the bucket count."""
    toks = df.select(
        "doc_id", words(F.col("text"), True).alias("t")
    ).filter(F.size("t") >= 1)
    uni = F.explode(F.col("t")).alias("gram")
    bi = F.explode(
        F.expr(
            "transform(sequence(1, greatest(size(t) - 1, 0)),"
            " i -> concat_ws(' ', t[i-1], t[i]))"
        )
    ).alias("gram")
    grams = toks.select("doc_id", uni).unionByName(
        toks.filter(F.size("t") >= 2).select("doc_id", bi)
    )
    fh = (
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
        % F.lit(_DSIR_BUCKETS)
    )
    return grams.select("doc_id", fh.alias("fh"))


_DSIR_GRAMS_SQL = f"""
    toks AS (
        SELECT doc_id, source,
               {words_sql("text", True)} AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               CAST(CAST(('0x' || substr(md5(gram), 1, 8)) AS UBIGINT)
                    AS BIGINT) % {_DSIR_BUCKETS} AS fh
        FROM (
            SELECT doc_id, source, unnest(t) AS gram FROM toks
                WHERE len(t) >= 1
            UNION ALL
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i + 1])) AS gram
            FROM toks WHERE len(t) >= 2
        )
    )"""


@query(
    "d55_dsir_importance",
    oracle=f"""
    WITH {_DSIR_GRAMS_SQL},
    doc_feats AS (
        SELECT doc_id, fh, CAST(COUNT(*) AS BIGINT) AS c
        FROM grams GROUP BY doc_id, fh
    ),
    raw AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS cr FROM grams GROUP BY fh),
    tgt AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS ct FROM grams
            WHERE source = '{_DSIR_TARGET}' GROUP BY fh),
    scored AS (
        SELECT f.doc_id,
               CAST(SUM(f.c) AS BIGINT) AS n_grams,
               CAST(SUM(f.c * (({_DSIR_SCALE} * (COALESCE(t.ct, 0) + 1))
                               // (r.cr + 1))) AS BIGINT) AS score
        FROM doc_feats f
        JOIN raw r ON f.fh = r.fh
        LEFT JOIN tgt t ON f.fh = t.fh
        GROUP BY f.doc_id
    )
    SELECT doc_id, n_grams, score,
           (ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
            <= (SELECT COUNT(*) // 4 FROM scored)) AS selected
    FROM scored
    """,
    survey="curation-dsir",
)
def d55_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023, arXiv:2302.03169 —
    Data Selection with Importance Resampling, re-expressed
    Spark-first): hash every uni/bigram into {_DSIR_BUCKETS} buckets,
    estimate the target-domain and raw feature distributions, score
    each raw document by its per-feature target/raw likelihood ratios,
    and select the top quartile.

    Integer-exact variant: the paper's log-ratio sum is replaced by the
    fixed-point LINEAR ratio sum  sum_f c_f * floor(SCALE*(ct_f+1) /
    (cr_f+1))  — the add-one-smoothed ratio with the global
    (N_raw+B)/(N_tgt+B) factor dropped (constant across features, so
    document RANKING under the linear score is a pure function of the
    same sufficient statistics).  Everything stays BIGINT, so the
    oracle replays bit-for-bit; in-engine ``ln()`` is banned here for
    the same libm reason the HLL correction documents.

    Scale shape: one token scan -> hashed-feature groupBys (the feature
    relation is bounded at {_DSIR_BUCKETS} rows — broadcast-sized by
    construction, AQE broadcasts both distribution joins); the only
    corpus-sized exchange is the per-doc feature aggregation.  The
    top-quartile window is the test-SF form; at 100 TB the selection
    threshold comes from a sampled score quantile (no global sort), as
    d17/d44 document for their quantiles."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # checkpoint the per-doc feature relation (r15 opt, guide §5): it is
    # consumed by BOTH the distribution build and the scoring join, and
    # without the checkpoint each consumer re-executes the token scan +
    # gram explode + corpus-sized groupBy (baseline plan: 7 physical
    # parquet scans of documents).  At 100 TB this relation is the
    # persisted feature tier a DSIR run writes once per corpus.
    feats = (
        _grams(docs)
        .groupBy("doc_id", "fh")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()
    )
    tgt_ids = docs.filter(F.col("source") == _DSIR_TARGET).select("doc_id")
    # ONE distribution pass instead of two (r15 opt, guide §2.3): the raw
    # and target feature counts come from the same feats relation, so a
    # single fh-aggregation with a conditional target sum replaces the
    # separate raw groupBy + tgt join/groupBy.  Exact equivalence: cr is
    # the same unconditional sum; ct = sum(when(_t, c)) is NULL for a
    # feature with no target occurrences — exactly the missing-row NULL
    # the old left join produced — and coalesce(ct, 0) handles both.
    dist = (
        feats.join(
            F.broadcast(tgt_ids.withColumn("_t", F.lit(True))), "doc_id", "left"
        )
        .groupBy("fh")
        .agg(
            F.sum("c").cast("bigint").alias("cr"),
            F.sum(F.when(F.col("_t"), F.col("c"))).cast("bigint").alias("ct"),
        )
    )
    scored = (
        feats.join(F.broadcast(dist), "fh")
        .withColumn(
            "term",
            F.expr(
                f"c * (({_DSIR_SCALE} * (coalesce(ct, 0) + 1))"
                " div (cr + 1))"
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.sum("term").cast("bigint").alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), "doc_id")
    n4 = F.floor(F.count("*").over(Window.partitionBy(F.lit(1))) / 4)
    return scored.select(
        "doc_id", "n_grams", "score",
        (F.row_number().over(w) <= n4).alias("selected"),
    )


_LM_REF = ("src0", "src1")  # the trusted (wiki-like) reference slice
_LM_SCALE = 1_000_000_000  # fixed-point probability scale


_LM_BIGRAMS = """
           unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
           unnest(list_transform(range(1, len(t)), i -> t[i + 1])) AS w2"""

_LM_PAIRS = (
    "transform(sequence(1, size(t) - 1),"
    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
)


def lm_train(ref_docs: DataFrame) -> dict[str, DataFrame]:
    """Bigram LM relations from a reference slice (columns: lang, text):
    per-language unigram counts, totals/vocab sizes, bigram counts.
    Bounded by the REFERENCE corpus (wiki-sized), so every consumer
    broadcasts them — library form shared by the d56 batch query and
    the streaming curation LM stage (curation_stream.index_lm)."""
    toks = ref_docs.select("lang", words(F.col("text"), True).alias("t"))
    # checkpoint the unigram relation (r15 opt, guide §5): it is bounded
    # by the reference corpus (every consumer broadcasts it) yet feeds
    # THREE consumers — stats below, and lm_score's two word-side
    # broadcast joins — each of which otherwise re-executes the
    # reference token scan + explode + groupBy (d56 baseline plan: 5
    # physical scans of documents, 3 of them this lineage; the streaming
    # index_lm writer re-derived it for the stats tier the same way).
    uni = (
        toks.filter(F.size("t") >= 1)
        .select("lang", F.explode("t").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").cast("bigint").alias("c1"))
        .localCheckpoint()
    )
    stats = uni.groupBy("lang").agg(
        F.sum("c1").cast("bigint").alias("tt"),
        F.count("*").cast("bigint").alias("vv"),
    )
    big = (
        toks.filter(F.size("t") >= 2)
        .select("lang", F.explode(F.expr(_LM_PAIRS)).alias("p"))
        .select("lang", "p.w1", "p.w2")
        .groupBy("lang", "w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c2"))
    )
    return {"uni": uni, "stats": stats, "big": big}


def lm_train_sql(toks: str, ref_filter: str) -> str:
    """DuckDB twin of lm_train: the ref_uni, ref_stats and ref_big CTEs
    over the token relation ``toks`` (lang, t).  ``ref_filter`` is the
    predicate prefix (``"... AND "``) that picks the reference rows out
    of ``toks``, empty when ``toks`` holds only them."""
    return f"""ref_uni AS (
        SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c1
        FROM (SELECT lang, unnest(t) AS word FROM {toks}
              WHERE {ref_filter}len(t) >= 1)
        GROUP BY lang, word
    ),
    ref_stats AS (
        SELECT lang, CAST(SUM(c1) AS BIGINT) AS tt,
               CAST(COUNT(*) AS BIGINT) AS vv
        FROM ref_uni GROUP BY lang
    ),
    ref_big AS (
        SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
        FROM (SELECT lang, {_LM_BIGRAMS}
              FROM {toks} WHERE {ref_filter}len(t) >= 2)
        GROUP BY lang, w1, w2
    )"""


def lm_score_sql(grams: str) -> str:
    """DuckDB twin of lm_score before its division: (doc_id, lang,
    n_bigrams, psum) of the bigram relation ``grams`` (doc_id, lang, w1,
    w2) against lm_train_sql's CTEs; fluency_fp is psum // n_bigrams."""
    return f"""
        SELECT d.doc_id, d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE
                   WHEN u1.c1 IS NOT NULL THEN
                       ({_LM_SCALE} * (COALESCE(b.c2, 0) + 1))
                       // (u1.c1 + s.vv)
                   WHEN s.vv IS NOT NULL THEN
                       ({_LM_SCALE} * (COALESCE(u2.c1, 0) + 1))
                       // (s.tt + s.vv)
                   ELSE 0 END) AS BIGINT) AS psum
        FROM {grams} d
        LEFT JOIN ref_big b
            ON d.lang = b.lang AND d.w1 = b.w1 AND d.w2 = b.w2
        LEFT JOIN ref_uni u1 ON d.lang = u1.lang AND d.w1 = u1.word
        LEFT JOIN ref_uni u2 ON d.lang = u2.lang AND d.w2 = u2.word
        LEFT JOIN ref_stats s ON d.lang = s.lang
        GROUP BY d.doc_id, d.lang"""


def lm_score(docs: DataFrame, lm: dict[str, DataFrame]) -> DataFrame:
    """Score documents (doc_id, lang, text) against a trained LM:
    (doc_id, lang, n_bigrams, fluency_fp) for every doc with >= 2
    tokens.  Fixed-point add-one-smoothed bigram probability with
    unigram backoff, 0 for a language the LM has no data for — the
    exact arithmetic d56 documents; integer-exact so the DuckDB oracles
    replay it bit-for-bit."""
    doc_big = (
        docs.select("doc_id", "lang", words(F.col("text"), True).alias("t"))
        .filter(F.size("t") >= 2)
        .select("doc_id", "lang", F.explode(F.expr(_LM_PAIRS)).alias("p"))
        .select("doc_id", "lang", "p.w1", "p.w2")
    )
    uni = lm["uni"]
    p_fp = (
        F.when(
            F.col("c1w1").isNotNull(),
            F.expr(
                f"({_LM_SCALE} * (coalesce(c2, 0) + 1)) div (c1w1 + vv)"
            ),
        )
        .when(
            F.col("vv").isNotNull(),
            F.expr(
                f"({_LM_SCALE} * (coalesce(c1w2, 0) + 1)) div (tt + vv)"
            ),
        )
        .otherwise(F.lit(0).cast("bigint"))
    )
    return (
        doc_big.join(F.broadcast(lm["big"]), ["lang", "w1", "w2"], "left")
        .join(
            F.broadcast(
                uni.select("lang", F.col("word").alias("w1"),
                           F.col("c1").alias("c1w1"))
            ),
            ["lang", "w1"], "left",
        )
        .join(
            F.broadcast(
                uni.select("lang", F.col("word").alias("w2"),
                           F.col("c1").alias("c1w2"))
            ),
            ["lang", "w2"], "left",
        )
        .join(F.broadcast(lm["stats"]), ["lang"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(p_fp).cast("bigint").alias("psum"),
        )
        .withColumn("fluency_fp", F.expr("psum div n_bigrams"))
        .drop("psum")
    )


_D56_ORACLE = f"""
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
    scored AS ({lm_score_sql("doc_big")}
    )
    SELECT doc_id, lang, n_bigrams,
           psum // n_bigrams AS fluency_fp,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY psum // n_bigrams DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored
    """


@query(
    "d56_lm_fluency_buckets",
    oracle=_D56_ORACLE,
    survey="curation-lm-fluency",
)
def d56_lm_fluency_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped language-model fluency bucketing (Wenzek et al.
    2020, arXiv:1911.00359): train an n-gram LM per language on a
    trusted reference slice (CCNet uses Wikipedia; here sources
    {_LM_REF}), score every document, and split each language into
    head/middle/tail terciles — the standard quality stratification a
    100 TB crawl runs before mixing.

    Integer-exact restatement: CCNet's perplexity (geometric mean of
    bigram probabilities via KenLM log-probs) is replaced by the
    arithmetic mean of FIXED-POINT add-one-smoothed bigram
    probabilities —  floor(SCALE*(c2+1)/(c1[w1]+V))  when the context
    word is in the reference vocabulary, unigram backoff
    floor(SCALE*(c1[w2]+1)/(T+V))  when it is not, 0 for a language
    with no reference data.  Both are means of per-bigram probability
    transforms, monotone in each bigram's probability, so the
    rare-bigrams-surprise signal survives while every value stays
    BIGINT and the oracle replays bit-for-bit (``ln()`` is banned here
    for the same libm reason d55 documents).

    Scale shape: the LM relations are bounded by the REFERENCE corpus
    (wiki-sized, not crawl-sized), so all three LM joins broadcast;
    the crawl side is one token scan -> bigram explode -> per-doc
    aggregation (the single corpus-sized shuffle, keyed by doc_id).
    The tercile window is the test-SF form; at 100 TB the head/tail
    cutoffs come from a sampled score quantile per language (d44's
    sketch) and bucket assignment becomes a scan-side comparison
    against broadcast cutoffs — no global sort."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    lm = lm_train(docs.filter(F.col("source").isin(*_LM_REF)))
    scored = lm_score(docs, lm)
    w = Window.partitionBy("lang").orderBy(F.desc("fluency_fp"), "doc_id")
    bucket = (
        F.when(F.ntile(3).over(w) == 1, F.lit("head"))
        .when(F.ntile(3).over(w) == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select(
        "doc_id", "lang", "n_bigrams", "fluency_fp", bucket.alias("bucket")
    )


_VOCAB_V = 16  # top-V corpus vocabulary (31 distinct words in testdata)
_OOV_MAX = 0.35  # keep documents with at most this OOV token fraction


@query(
    "d59_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {words_sql("text", True)} AS t
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, COUNT(*) AS n FROM (
                SELECT unnest(t) AS word FROM toks
            ) GROUP BY word
            ORDER BY n DESC, word
            LIMIT {_VOCAB_V}
        )
    ),
    stats AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
        FROM toks WHERE len(t) >= 1
    ),
    invocab AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_in_vocab
        FROM (SELECT doc_id, unnest(t) AS word FROM toks WHERE len(t) >= 1) u
        JOIN vocab v USING (word)
        GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           COALESCE(n_in_vocab, 0) AS n_in_vocab,
           ROUND(1.0 - CAST(COALESCE(n_in_vocab, 0) AS DOUBLE) / n_tokens, 6)
               AS oov_frac,
           (ROUND(1.0 - CAST(COALESCE(n_in_vocab, 0) AS DOUBLE) / n_tokens, 6)
            <= {_OOV_MAX}) AS keep
    FROM stats LEFT JOIN invocab USING (doc_id)
    """,
    survey="curation-vocab-coverage",
)
def d59_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage filter (the C4/CCNet lexicon-heuristic
    family): build the corpus top-{_VOCAB_V} vocabulary (count desc,
    word asc — exact, no RNG), then keep documents whose
    out-of-vocabulary token fraction is at most {_OOV_MAX}.  A
    high-OOV document in a web corpus is boilerplate, another language,
    or garbage encoding — cheap to detect before any model-based
    scoring runs.

    Scale shape: one token scan -> word-count groupBy -> top-V (V is a
    constant, so the cutoff is a bounded sort — at 100 TB a top-V over
    partial counts, never a full vocabulary sort); the vocabulary is
    broadcast into a row-local array_contains filter, so the per-doc
    pass is scan-side with no second shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = words(F.col("text"), True)
    toks = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 1)
    vocab = [
        r["word"]
        for r in toks.select(F.explode("t").alias("word"))
        .groupBy("word").count()
        .orderBy(F.desc("count"), "word")
        .limit(_VOCAB_V)
        .collect()
    ]
    # |vocab| <= V (a constant): the collect is control-plane, the
    # filter ships as a literal array inside the row-local expression
    varr = F.array(*[F.lit(w) for w in vocab])
    n_in = F.size(F.filter(F.col("t"), lambda w: F.array_contains(varr, w)))
    oov = F.round(1.0 - n_in.cast("double") / F.size("t"), 6)
    return toks.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        n_in.cast("bigint").alias("n_in_vocab"),
        oov.alias("oov_frac"),
        (oov <= F.lit(_OOV_MAX)).alias("keep"),
    )


# d57: the quality->scrub->LM composition.  The oracle interpolates the
# shared regex/stopword constants AT RUNTIME (f-string over module
# constants, the r13/r15 gate pattern) — never paste a regex into SQL
# source text: literal braces and backslashes silently corrupt there.
from .text3 import EMAIL_RE as _EMAIL, IPV4_RE as _IP, PHONE_RE as _PHONE  # noqa: E402
from .text3 import PII_TAIL_SQL, pii_tail  # noqa: E402
from .text4 import GOPHER_KEEP_SQL, gopher_metrics_sql  # noqa: E402

_D57_SCRUB_SQL = f"""regexp_replace(regexp_replace(regexp_replace(text,
                       '{_EMAIL}', '<EMAIL>', 'g'),
                       '{_PHONE}', '<PHONE>', 'g'),
                       '{_IP}', '<IP>', 'g')"""


@query(
    "d57_curation_lm_pipeline",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id, lang, source, text || {PII_TAIL_SQL} AS text
        FROM documents
    ),
    ptoks AS (
        SELECT doc_id, lang, source, text,
               {words_sql("text", True)} AS t
        FROM planted
    ),
    quality AS (
        SELECT doc_id, lang, source, text
        FROM (SELECT doc_id, lang, source, text, {gopher_metrics_sql("t")}
              FROM ptoks)
        WHERE {GOPHER_KEEP_SQL}
    ),
    stoks AS (
        SELECT doc_id, lang,
               {words_sql(_D57_SCRUB_SQL, True)} AS t
        FROM quality
    ),
    rtoks AS (
        SELECT doc_id, lang,
               {words_sql("text", True)} AS t
        FROM documents WHERE source IN {_LM_REF}
    ),
    {lm_train_sql("rtoks", "")},
    doc_big AS (
        SELECT doc_id, lang, {_LM_BIGRAMS} FROM stoks WHERE len(t) >= 2
    ),
    ref_doc_big AS (
        SELECT doc_id, lang, {_LM_BIGRAMS} FROM rtoks WHERE len(t) >= 2
    ),
    fl AS (
        SELECT doc_id, lang, n_bigrams, psum // n_bigrams AS fluency_fp
        FROM ({lm_score_sql("doc_big")})
    ),
    ref_fl AS (
        SELECT doc_id, lang, psum // n_bigrams AS fluency_fp
        FROM ({lm_score_sql("ref_doc_big")})
    ),
    ref_nt AS (
        SELECT lang, fluency_fp,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY fluency_fp DESC, doc_id) AS nt
        FROM ref_fl
    ),
    cuts AS (
        SELECT lang,
               MIN(CASE WHEN nt = 1 THEN fluency_fp END) AS head_min,
               MIN(CASE WHEN nt <= 2 THEN fluency_fp END) AS mid_min
        FROM ref_nt GROUP BY lang
    )
    SELECT q.doc_id, q.lang, q.source,
           CAST(COALESCE(f.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(f.fluency_fp, -1) AS BIGINT) AS fluency_fp,
           CASE WHEN f.fluency_fp IS NULL THEN 'unscored'
                WHEN c.head_min IS NOT NULL AND f.fluency_fp >= c.head_min
                    THEN 'head'
                WHEN c.mid_min IS NOT NULL AND f.fluency_fp >= c.mid_min
                    THEN 'middle'
                ELSE 'tail' END AS lm_bucket,
           (f.fluency_fp IS NOT NULL AND
            ((c.head_min IS NOT NULL AND f.fluency_fp >= c.head_min) OR
             (c.mid_min IS NOT NULL AND f.fluency_fp >= c.mid_min)))
               AS kept
    FROM quality q
    LEFT JOIN fl f USING (doc_id)
    LEFT JOIN cuts c ON q.lang = c.lang
    """,
    survey="curation-pipeline-lm",
)
def d57_curation_lm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality -> PII scrub -> LM fluency as ONE composition — the
    CCNet-ordered curation chain (filter junk cheaply, redact PII, THEN
    spend the model): the LM scores the SCRUBBED text of the
    quality-survivors against a model trained on the CLEAN reference
    slice, and a document ships only if it lands head/middle under the
    reference cutoffs.  Gates the stages' INTERACTION: the scrub
    replaces PII spans with tokens the LM never saw (the backoff path),
    so a scrub drift, a quality drift, or an LM/cutoff drift each move
    the final keep set.

    Reuse is the point of the body: the quality gate is gopher_metrics
    (d21), the scrub is scrub_pii (d18), and the scoring+bucketing is
    the STREAM's own lm_bucket_batch over lm_train + the index_lm
    cutoff construction — the batch pipeline and the streaming stage
    cannot diverge.

    Scale shape: quality+scrub are scan-side; the LM relations are
    reference-bounded broadcasts; one corpus-sized shuffle (per-doc
    bigram aggregation); cutoff bucketing is scan-side — no window over
    the crawl (the d56 tercile window's production substitution)."""
    from pyspark.sql.window import Window as W

    from ..streaming.curation_stream import lm_bucket_batch
    from .text3 import scrub_pii
    from .text4 import gopher_metrics

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    planted = docs.select(
        "doc_id", "lang", "source",
        F.concat(F.col("text"), pii_tail(F.col("doc_id"))).alias("text"),
    )
    quality = (
        gopher_metrics(planted)
        .filter(F.col("verdict") == "keep")
        .select("doc_id", "lang", "source", "text")
    )
    scrubbed = quality.select(
        "doc_id", "lang", scrub_pii(F.col("text")).alias("text")
    )
    ref = docs.filter(F.col("source").isin(*_LM_REF))
    lm = lm_train(ref)
    ref_scored = lm_score(ref.select("doc_id", "lang", "text"), lm)
    w = W.partitionBy("lang").orderBy(F.desc("fluency_fp"), "doc_id")
    nt = ref_scored.withColumn("nt", F.ntile(3).over(w))
    cuts = nt.groupBy("lang").agg(
        F.min(F.when(F.col("nt") == 1, F.col("fluency_fp")))
        .alias("head_min"),
        F.min(F.when(F.col("nt") <= 2, F.col("fluency_fp")))
        .alias("mid_min"),
    )
    bucketed = lm_bucket_batch(scrubbed, {**lm, "cuts": cuts})
    return (
        quality.select("doc_id", "lang", "source")
        .join(bucketed.drop("lang"), "doc_id", "left")
        .select(
            "doc_id", "lang", "source", "n_bigrams", "fluency_fp",
            "lm_bucket",
            F.col("lm_bucket").isin("head", "middle").alias("kept"),
        )
    )


_QMIX_SALT = "qmix-v1:"
# keep fractions per fluency bucket, as 16-bit hash thresholds (u16 <
# threshold keeps): head all, middle 1/2, tail 1/8 — the CCNet-style
# quality-weighted mixture (they train on head+middle and sample tail)
_QMIX_U16 = {"head": 65536, "middle": 32768, "tail": 8192}


@query(
    "d58_quality_mixture_sample",
    oracle=f"""
    SELECT doc_id, lang, fluency_fp, bucket,
           CAST(CAST(('0x' || substr(md5('{_QMIX_SALT}' ||
                CAST(doc_id AS VARCHAR)), 1, 4)) AS UINTEGER)
                AS BIGINT) AS u16,
           (CAST(('0x' || substr(md5('{_QMIX_SALT}' ||
                CAST(doc_id AS VARCHAR)), 1, 4)) AS UINTEGER)
            < CASE bucket WHEN 'head' THEN {_QMIX_U16["head"]}
                          WHEN 'middle' THEN {_QMIX_U16["middle"]}
                          ELSE {_QMIX_U16["tail"]} END) AS keep
    FROM ({_D56_ORACLE}) b
    """,
    survey="curation-quality-mixture",
)
def d58_quality_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted mixture sampling over the d56 fluency buckets —
    the step after CCNet's stratification: keep all of head, half of
    middle, an eighth of tail (CCNet trains on head+middle and samples
    the tail to retain some distributional diversity).  RNG-free like
    d17/d24: each document's keep decision is a 16-bit md5 threshold on
    a salted doc_id, so the sample is reproducible, incremental-safe
    (a re-run or a later crawl decides each doc identically), and
    exactly replayable by the oracle — which wraps d56's ORACLE TEXT
    verbatim (one constant, no drifting copy), just as this body wraps
    the d56 query itself.

    Scale shape: d56's plan plus one scan-side projection — the
    threshold adds no shuffle, no window, no join."""
    bucketed = d56_lm_fluency_buckets(spark, sf_dir)
    u16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_QMIX_SALT), F.col("doc_id").cast("string"))),
            1, 4,
        ), 16, 10,
    ).cast("bigint")
    thresh = (
        F.when(F.col("bucket") == "head", F.lit(_QMIX_U16["head"]))
        .when(F.col("bucket") == "middle", F.lit(_QMIX_U16["middle"]))
        .otherwise(F.lit(_QMIX_U16["tail"]))
    )
    return bucketed.select(
        "doc_id", "lang", "fluency_fp", "bucket",
        u16.alias("u16"), (u16 < thresh).alias("keep"),
    )
