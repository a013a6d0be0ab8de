"""Training-data safety operators: PII scrubbing and benchmark
contamination (the d-family extensions round 4 adds).

Neither exists in the reference (its text handling is names/labels, not
corpus hygiene); both are standard large-corpus pipeline stages and both
stay entirely JVM-side:

- **d18 PII scrub**: email / phone / IPv4 redaction as regexp chains.
  The patterns are chosen to behave identically under Java regex (Spark)
  and RE2 (DuckDB) — verified probe-by-probe — which is what makes the
  scrubbed-text md5 hash-comparable across engines.  At 100TB this is a
  single scan with no shuffle: counts and redaction in one projection.
- **d19 benchmark contamination**: flag documents sharing any word
  8-gram with a benchmark set (the decontamination join every eval-aware
  corpus build runs).  The benchmark n-gram side is bounded, so the join
  broadcasts; candidates join on the md5 of the n-gram (engine-portable
  key), never on raw text.

Both gate queries plant deterministic fixtures over the documents table
(synthetic text carries no organic PII, and contamination needs a known
overlap) so the driver rows are non-vacuous at every SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.strings import WS, words, words_sql
from .registry import query

# Java-regex / RE2 parity verified for all three (same counts, same spans)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(text: F.Column) -> F.Column:
    """Redact email -> phone -> IPv4 (fixed order: the md5 gate depends
    on it)."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, IPV4_RE, "<IP>")


def pii_counts(text: F.Column) -> list[F.Column]:
    return [
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.regexp_count(text, F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
    ]


def pii_tail(k: F.Column) -> F.Column:
    """The planted PII item every PII gate appends to a document (the
    synthetic corpus carries none): an email, a phone number or an IPv4
    address, rotating on doc_id % 3."""
    return (
        F.when(k % 3 == 0,
               F.concat(F.lit(" contact user"), k.cast("string"),
                        F.lit("@mail.example.org")))
        .when(k % 3 == 1,
              F.concat(F.lit(" call 555-123-"),
                       F.lpad((k % 10000).cast("string"), 4, "0")))
        .otherwise(F.concat(F.lit(" host 10.0."),
                            (k % 256).cast("string"), F.lit(".7")))
    )


# DuckDB twin of pii_tail over doc_id
PII_TAIL_SQL = """CASE doc_id % 3
                 WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org'
                 WHEN 1 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
               END"""


@query(
    "d18_pii_scrub",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id, text || {PII_TAIL_SQL} AS t FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g'),
               '{IPV4_RE}', '<IP>', 'g')) AS scrub_md5
    FROM planted
    """,
    survey="dedup-pii-scrub",
)
def d18_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction in one scan: every document gets one
    planted PII item (rotating email/phone/IP — synthetic corpus text
    carries none organically), the counts find it, and the md5 of the
    scrubbed text proves byte-identical redaction across engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(F.col("text"), pii_tail(F.col("doc_id")))
    return docs.select(
        "doc_id", *pii_counts(t), F.md5(scrub_pii(t)).alias("scrub_md5")
    )


N_GRAM = 8
_BENCH_MOD = 29  # ~3% of docs form the benchmark set
_CONTAM_MOD = 31  # planted-overlap docs (the guaranteed positives)
_PLANT = "the quick brown fox jumps over the lazy benchmark dog"


def word_ngrams_expr(n: int = N_GRAM) -> F.Column:
    """Distinct word n-grams over a column named ``toks`` (the pinned
    tokenization — build it with ``words`` first).  The grams
    are assembled by n direct subscripts per index instead of a per-index
    slice() allocation: transform() lambdas evaluate interpreted, outside
    codegen, so the slice copy was the hot allocation of the whole d19
    plan (measured 1.6x on the gram stage).  The index sequence is
    guarded BEFORE construction: sequence(1, k) with k < 1 DESCENDS
    instead of returning empty."""
    refs = ", ".join(f"toks[i+{j - 1}]" for j in range(n))
    return F.array_distinct(
        F.expr(
            f"transform(CASE WHEN size(toks) >= {n}"
            f" THEN sequence(1, size(toks) - {n - 1}) ELSE array() END,"
            f" i -> concat_ws(' ', {refs}))"
        )
    )




def doc_gram_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, gh): md5 of every distinct word 8-gram per document —
    the relation both the d19 batch check and the streaming curation
    probe join on.  Joining on the hash (not raw gram text) keeps the
    big side's shuffle rows fixed-width."""
    toked = spread_scan(
        docs.select(
            F.col(id_col).alias("doc_id"),
            words(F.col(text_col), True).alias("toks"),
        )
    )
    return toked.select(
        "doc_id", F.explode(word_ngrams_expr()).alias("gram")
    ).select("doc_id", F.md5("gram").alias("gh"))


@query(
    "d19_benchmark_contamination",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_BENCH_MOD} = 0 OR doc_id % {_CONTAM_MOD} = 0
                    THEN text || ' {_PLANT}' ELSE text END AS text
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(toks) - {N_GRAM - 2}),
                   i -> array_to_string(toks[i:i+{N_GRAM - 1}], ' ')))) AS gram
        FROM (SELECT doc_id, {words_sql("text", True)} AS toks
              FROM planted)
        WHERE len(toks) >= {N_GRAM}
    ),
    bench AS (
        SELECT DISTINCT md5(gram) AS gh FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    )
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
    FROM grams g JOIN bench b ON md5(g.gram) = b.gh
    WHERE g.doc_id % {_BENCH_MOD} != 0
    GROUP BY g.doc_id
    """,
    survey="dedup-contamination",
)
def d19_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination join: documents sharing any word 8-gram with the
    benchmark subset (doc_id % 29 == 0), counted per document.  A planted
    sentence on benchmark docs and on doc_id % 31 == 0 docs guarantees
    known positives at every SF; organic near-dup overlaps count too
    (identically on both engines).  The benchmark n-gram set is bounded
    -> broadcast; candidates meet on md5(gram), so the big side never
    shuffles raw text."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    plant = (k % _BENCH_MOD == 0) | (k % _CONTAM_MOD == 0)
    planted = docs.select(
        "doc_id",
        F.when(plant, F.concat(F.col("text"), F.lit(" " + _PLANT)))
        .otherwise(F.col("text")).alias("text"),
    )
    grams = doc_gram_hashes(planted)
    bench = grams.filter(k % _BENCH_MOD == 0).select("gh").distinct()
    return (
        grams.filter(k % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated"))
    )


# a sentence ends at a period followed by whitespace (the pinned class)
_SENT_SPLIT = r"\." + WS
_DUP_MOD = 13
_BOILER = "this material is provided as is without warranty of any kind"


@query(
    "d20_paragraph_dedup",
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_DUP_MOD} = 0
                    THEN text || '. {_BOILER}' ELSE text END AS text
        FROM documents
    ),
    paras AS (
        SELECT doc_id, pos, para FROM (
            SELECT doc_id,
                   generate_subscripts(parts, 1) AS pos,
                   unnest(parts) AS para
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(trim(text, ' ')), '{_SENT_SPLIT}') AS parts
                  FROM planted)
        ) WHERE trim(para, ' ') != ''
    ),
    owners AS (
        SELECT para,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(doc_id * 1000000 + pos) AS owner
        FROM paras GROUP BY para
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_paragraphs,
           CAST(SUM(CASE WHEN o.n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_paragraphs,
           md5(coalesce(string_agg(
               CASE WHEN o.n_copies = 1 OR o.owner = p.doc_id * 1000000 + p.pos
                    THEN p.para END, '. ' ORDER BY p.pos), '')) AS cleaned_md5
    FROM paras p JOIN owners o ON p.para = o.para
    GROUP BY p.doc_id
    """,
    survey="dedup-paragraph",
)
def d20_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-paragraph removal (the sub-document dedup
    granularity: boilerplate/license blocks repeated across documents).
    Sentences are the paragraph unit here (the corpus is single-line);
    every sentence groups corpus-wide, a duplicated sentence keeps only
    its first global occurrence (min (doc_id, pos) owner), and each
    document reassembles from its surviving sentences — counts plus the
    cleaned-text md5 gate the whole pipeline.  A document that keeps
    nothing hashes the empty string on BOTH engines (the oracle
    coalesces its all-NULL string_agg; such docs exist at sf0.1).  A
    planted boilerplate sentence on doc_id % 13 == 0 guarantees known
    cross-doc duplicates.

    Scale shape: explode -> one groupBy on the sentence (corpus-wide
    ownership), hash-equi join back, one groupBy per doc to reassemble —
    two shuffles, no driver state, no raw-text theta joins."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.when(k % _DUP_MOD == 0, F.concat(F.col("text"), F.lit(". " + _BOILER)))
        .otherwise(F.col("text")).alias("text"),
    )
    parts = F.split(F.lower(F.trim(F.col("text"))), _SENT_SPLIT)
    paras = (
        planted.select(
            "doc_id", F.posexplode(parts).alias("pos0", "para")
        )
        .filter(F.trim(F.col("para")) != "")
        # 1-based pos to match generate_subscripts
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "para")
    )
    owners = paras.groupBy("para").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min(F.col("doc_id") * 1000000 + F.col("pos")).alias("owner"),
    )
    keep = (F.col("n_copies") == 1) | (
        F.col("owner") == F.col("doc_id") * 1000000 + F.col("pos")
    )
    joined = paras.join(owners, "para").withColumn(
        "kept", F.when(keep, F.col("para"))
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
        F.sum((F.col("n_copies") > 1).cast("int")).cast("bigint").alias("n_dup_paragraphs"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept").isNotNull(),
                                   F.struct(F.col("pos"), F.col("kept").alias("para")))
                        )
                    ),
                    lambda s: s.getField("para"),
                ),
                ". ",
            )
        ).alias("cleaned_md5"),
    )
