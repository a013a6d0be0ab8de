"""Scale-path deduplication operators: MinHash+LSH, SimHash, embedding
near-dup — each fully deterministic and oracle-checked.

Design note (the 100TB story): exact n-gram Jaccard (d06) self-joins the
full shingle inverted index — fine at small SF, quadratic in hot shingles
at scale. The MinHash/LSH pipeline here replaces that with a BOUNDED
candidate generation: 8 min-hash signatures per doc (one scan), banded into
4 two-row LSH buckets, so the only join is on (band, band_hash) — candidate
pairs are then verified with exact Jaccard computed ONLY for candidates.
Every primitive is an md5/substring expression available identically in
Spark and DuckDB (fixed-length lowercase hex compares like the number it
encodes), which is what makes the whole pipeline hash-verifiable across
engines — no RNG, no seed state.

The reference has no near-dup machinery (its dedupe family A3–A5/A9–A11 is
exact-key only, merger.py:750-898 in /root/reference); these operators are
the driver-mandated training-data-pipeline extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import forget, load_table, memo
from ..functions.strings import content_fp, content_fp_sql, words, words_sql
from ..operators.similarity import (
    COSINE_SQL,
    cosine,
    embedding_signatures,
    embedding_signatures_sql,
    hamming1_flips_sql,
    multiprobe_pairs,
)
from ..pipeline.closure import closure_sql, connected_components
from .registry import query
from .text import QUALITY_OK_SQL, quality_counts, quality_counts_sql, quality_ok

N_SIGS = 8  # min-hash permutations
N_BANDS = 4  # bands of 2 rows each
ROWS_PER_BAND = N_SIGS // N_BANDS
JACCARD_T = 0.6


# ---------------------------------------------------------------------------
# shared Spark-side builders (used by the declared queries AND importable as
# library functions for arbitrary corpora)
# ---------------------------------------------------------------------------
def clear_tier_cache() -> None:
    """Drop every memoized tier (bench.py's rule between passes, and the
    test-harness hook for in-place testdata regeneration; the checkpoint
    blocks are released with the refs).  Table plans and the serving
    model stay memoized."""
    forget("tier")


def _tier(
    spark: SparkSession, sf_dir: str, key: str, builder, table: str = "documents"
) -> DataFrame:
    """A materialized (localCheckpoint) dedup tier, held in the session
    memo (``catalog.memo``) while ``table``'s files stand.

    d07/d12/d13 are one pipeline staged as three queries: pairs build on
    candidates build on shingles.  In production each tier is a persisted
    table (SURVEY §7.1) that downstream stages READ, not recompute — the
    memo is the test-harness stand-in for that.  Every tier is a pure
    deterministic function of the input parquet (md5-based hashing, no
    RNG), so memoization cannot change results."""
    return memo(spark, sf_dir, (table,), ("tier", key), lambda: builder().localCheckpoint())


def _doc_arrays_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tier(
        spark, sf_dir, "doc_arrays",
        lambda: shingle_arrays_df(load_table(spark, sf_dir, "documents")),
    )


def _minhash_sigs_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc signature relation — ONE tier shared by the exact
    pairs family (d07/d12/d13) and the estimate tier (d33), so the
    shingle-explode + groupBy-min (the dominant md5 cost) runs once per
    session however the tiers compose."""
    def build() -> DataFrame:
        da = _doc_arrays_tier(spark, sf_dir)
        return minhash_signatures(da.select("id", F.explode("sh").alias("shingle")))

    return _tier(spark, sf_dir, "minhash_sigs", build)


def _verified_pairs_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-verified near-dup pairs: the tier d07 emits and d12/d13
    consume.

    Shuffle economics (r5 rewrite): per-doc shingle dedup is ROW-LOCAL
    (array_distinct), so the signature groupBy's partial aggregation
    combines each doc map-side and the exchange carries ~n_docs rows of
    partial mins instead of the full shingle relation — the previous
    explode->distinct->groupBy shape shuffled every shingle twice.
    Verification intersects the two docs' shingle ARRAYS per candidate
    pair (array_intersect, a JVM collection expression) instead of
    double-shuffling the exploded shingle index."""

    def build() -> DataFrame:
        da = _doc_arrays_tier(spark, sf_dir)
        sigs = _minhash_sigs_tier(spark, sf_dir)
        return verified_pairs_from_arrays(da, lsh_candidates(sigs), JACCARD_T)

    return _tier(spark, sf_dir, "pairs", build)


def shingle_arrays_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sh): distinct 3-word shingles per document as a row-local
    array — set-identical to exploding + distinct (pinned by the
    unchanged DuckDB oracles), but the dedup costs no shuffle."""
    toks = words(F.col(text_col), True)
    return (
        docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
                )
            ).alias("sh"),
        )
    )


def shingles_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle): distinct 3-word shingles per document (exploded
    library form — the streaming dedup path joins new docs' shingles
    against an accumulated index, so it needs the row relation).

    The global distinct is REQUIRED here even though shingle arrays are
    already row-locally deduped: an at-least-once feed can deliver the
    same doc_id twice in one batch, and the streaming consumer's
    count-based Jaccard (and its persisted index) would silently break
    on duplicated (id, shingle) rows (caught by review after the r5 tier
    rewrite dropped it)."""
    return (
        shingle_arrays_df(docs, id_col, text_col)
        .select("id", F.explode("sh").alias("shingle"))
        .distinct()
    )


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """(id, s0..s{N_SIGS-1}): per-doc min-hash signature. One scan, one
    groupBy. Hash economy: one md5 yields four independent 8-hex-char
    permutation values (32 hex chars / 8), so 8 signatures cost 2 md5
    calls per shingle, not 8 — at 100TB the md5 work dominates this stage."""
    salted = [F.md5(F.col("shingle")), F.md5(F.concat(F.lit("x:"), F.col("shingle")))]
    mins = [
        F.min(F.substring(salted[i // 4], (i % 4) * 8 + 1, 8)).alias(f"s{i}")
        for i in range(N_SIGS)
    ]
    return shingles.groupBy("id").agg(*mins)


def band_hash_cols() -> list:
    """The N_BANDS band-hash expressions over a signature relation's
    s0..s{N_SIGS-1} columns — THE bucket-key construction, shared by
    bands_df (streaming index), lsh_candidates (batch join) and
    lsh_candidates_capped, so the keys cannot drift."""
    return [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"s{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            )
        )
        for b in range(N_BANDS)
    ]


def bands_df(sigs: DataFrame) -> DataFrame:
    """(id, band, bh): the LSH band keys of a signature relation — built
    from band_hash_cols, the ONE bucket-key construction both the batch
    candidate join and the streaming index (streaming/dedup_stream.py)
    share, so their keys cannot drift.

    The band fan-out is one explode of an inline struct array, not an
    N_BANDS-way unionAll: a union compiles one codegen class per branch
    per join side (8 here) and the one-time janino cost dominated the
    cold query wall-clock (measured on d08, same shape); the explode is
    a single compiled stage with identical rows."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), bh.alias("bh"))
                    for b, bh in enumerate(band_hash_cols())
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def first_shared_band_pairs(rows: DataFrame, keys: list) -> DataFrame:
    """Pairs of ``rows`` (an id column plus payload) that share >= 1 of
    the band keys ``keys`` (one Column per band), each emitted EXACTLY
    ONCE: from its first shared band.  The one banded candidate join of
    the MinHash (lsh_candidates) and SimHash (simhash_candidates) paths.

    Each side posexplodes its band keys, so the only join key is
    (band, key) with a.id < b.id — never a theta self-join.  Each side
    also carries its whole key array, and the join keeps band s only
    when every band t < s differs between the two rows: static per-band
    conjunctions, fully codegen.  So no ``.distinct()`` exchange follows
    the join; on a near-identical corpus most qualifying pairs share
    every band, and a distinct would process the result 2-4x over.  The
    emission set equals the distinct form.  Returns the joined relation;
    callers select from ``a.*`` and ``b.*``."""
    bands = rows.select(
        "*",
        F.array(*keys).alias("band_keys"),
        F.posexplode(F.array(*keys)).alias("band", "key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    first_match = F.lit(False)
    for s in range(len(keys) - 1, -1, -1):
        earlier_all_differ = F.lit(True)
        for t in range(s):
            earlier_all_differ = earlier_all_differ & (
                F.col("a.band_keys")[t] != F.col("b.band_keys")[t]
            )
        first_match = F.when(F.col("a.band") == s, earlier_all_differ).otherwise(first_match)
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.id") < F.col("b.id")),
    ).filter(first_match)


def lsh_candidates(sigs: DataFrame) -> DataFrame:
    """(id_a, id_b): pairs sharing >=1 LSH band bucket, each emitted
    exactly once (first_shared_band_pairs over band_hash_cols)."""
    return first_shared_band_pairs(sigs, band_hash_cols()).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )


def lsh_candidates_capped(sigs: DataFrame, bucket_cap: int = 64) -> DataFrame:
    """LSH candidates with a HARD per-bucket quadratic bound — the
    mega-family guard (VERDICT r9 #5).  A pathological near-dup family of
    B documents lands ALL of them in the same band buckets, so the plain
    band join emits B(B-1)/2 pairs (100k family = 5e9 pairs from one
    bucket).  This variant splits every over-cap bucket the way the
    semantic tier's capped_assignment does (operators/similarity.py):
    row_number over (md5(id), id) within the bucket, mod ceil(n/cap) —
    deterministic and EXACT (every sub-bucket holds at most ``bucket_cap``
    ids by construction), applied BEFORE the pair join so the quadratic
    stage never sees an unsplit bucket.  Per-bucket output is bounded by
    ceil(n/cap) * cap^2/2 — LINEAR in n at fixed cap.

    Connectivity contract (what the downstream CC consumers — d36's
    corpus clean, d12's dedup groups — actually need): each sub-bucket's
    minimum id is linked to the bucket minimum, so any two docs of a
    split bucket stay CC-connected through the spine IF the linking pairs
    survive verification.  For a genuine near-dup family they do (every
    member is near-dup with every other); for a hash-collision bucket of
    UNRELATED docs the spine edges fail verify exactly like the plain
    join's pairs would.  Pairs are a SUBSET of the uncapped candidate set
    plus the spine (property-tested in tests/test_scale_paths.py); the
    first-shared-band single-emission trick does not survive splitting
    (a pair suppressed in band s by the split may legally re-match in
    band t), so this path dedupes with a distinct over the now-bounded
    volume."""
    bh = band_hash_cols()
    bands = sigs.select("id", F.posexplode(F.array(*bh)).alias("band", "bh"))
    wb = Window.partitionBy("band", "bh")
    wo = wb.orderBy(F.md5(F.col("id").cast("string")), "id")
    split = bands.select(
        "id", "band", "bh",
        (
            (F.row_number().over(wo) - 1)
            % F.ceil(
                F.count(F.lit(1)).over(wb).cast("double") / bucket_cap
            ).cast("bigint")
        ).alias("sub"),
    )
    a = split.select("band", "bh", "sub", F.col("id").alias("id_a"))
    b = split.select("band", "bh", "sub", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, ["band", "bh", "sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    sub_mins = split.groupBy("band", "bh", "sub").agg(F.min("id").alias("sid"))
    spine = (
        sub_mins.withColumn(
            "bmin", F.min("sid").over(Window.partitionBy("band", "bh"))
        )
        .filter(F.col("sid") != F.col("bmin"))
        .select(
            F.least("sid", "bmin").alias("id_a"),
            F.greatest("sid", "bmin").alias("id_b"),
        )
    )
    return pairs.unionByName(spine).distinct()


def tiered_pairs_capped(docs: DataFrame, bucket_cap: int = 64) -> DataFrame:
    """The d35 layered verify over the CAPPED candidate set — the hot-
    bucket route for corpora with mega near-dup families.  Identical
    estimate/borderline/exact thresholds (tiered_pairs_from), only the
    candidate generation differs."""
    da = shingle_arrays_df(docs)
    sigs = minhash_signatures(da.select("id", F.explode("sh").alias("shingle")))
    cands = lsh_candidates_capped(sigs, bucket_cap)
    return tiered_pairs_from(da, signature_estimate_pairs(sigs, cands))


def verified_pairs_from_arrays(
    doc_sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidates only, via array_intersect on the two
    docs' shingle arrays: two candidate-bounded equi-joins (the small
    candidate side broadcasts under AQE) and a row-local set intersect —
    no shuffle of the shingle relation at all.  Arrays are already
    distinct, so size(array_intersect) IS the set intersection size."""
    a = doc_sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = doc_sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    n_both = F.size(F.array_intersect("sh_a", "sh_b"))
    denom = F.size("sh_a") + F.size("sh_b") - n_both
    jac = F.round(n_both.cast("double") / denom, 6)
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# oracle SQL generators (same constructions in DuckDB dialect)
# ---------------------------------------------------------------------------
def _shingles_sql(src: str) -> str:
    """The 3-word-shingle CTE over any (doc_id, text) relation — ``src``
    parameterized so the d41 composed build can shingle the substring-
    CLEANED text with the same construction the raw-document oracles
    pin."""
    return f"""
    shingles AS (
        SELECT DISTINCT doc_id AS id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
            FROM (SELECT doc_id, {words_sql("text", True)} AS toks
                  FROM {src})
            WHERE len(toks) >= 3
        )
    )
"""



def _sig_sql() -> str:
    def src(i: int) -> str:
        return "md5(shingle)" if i < 4 else "md5('x:' || shingle)"

    mins = ",\n               ".join(
        f"MIN(substr({src(i)}, {(i % 4) * 8 + 1}, 8)) AS s{i}" for i in range(N_SIGS)
    )
    return f"sigs AS (SELECT id, {mins} FROM shingles GROUP BY id)"


def _bands_sql() -> str:
    parts = []
    for b in range(N_BANDS):
        cols = " || '|' || ".join(f"s{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        parts.append(f"SELECT id, {b} AS band, md5({cols}) AS bh FROM sigs")
    return "bands AS (" + " UNION ALL ".join(parts) + ")"


def _cands_sql(src: str) -> str:
    """The shingles, sigs, bands and cands CTEs over a (doc_id, text)
    relation: cands holds every pair (id_a < id_b) sharing a band bucket."""
    return f"""{_shingles_sql(src)},
    {_sig_sql()},
    {_bands_sql()},
    cands AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.id < b.id
    )"""


def _verify_sql(cands: str, a: str, b: str) -> str:
    """The sizes and inter CTEs of the exact Jaccard verify: each
    document's shingle count, and the shingles each candidate pair
    (``a``, ``b``) of the relation ``cands`` shares."""
    return f"""sizes AS (SELECT id, COUNT(*) AS n FROM shingles GROUP BY id),
    inter AS (
        SELECT c.{a}, c.{b}, COUNT(*) AS n_both
        FROM {cands} c
        JOIN shingles sa ON c.{a} = sa.id
        JOIN shingles sb ON c.{b} = sb.id AND sa.shingle = sb.shingle
        GROUP BY c.{a}, c.{b}
    )"""


# a verified pair's exact Jaccard, over inter joined to both sizes
_JACCARD_SQL = "ROUND(CAST(n_both AS DOUBLE) / (na.n + nb.n - n_both), 6)"


def _verified_sql(a: str, b: str, cols: str) -> str:
    """SELECT ``cols`` of the candidate pairs whose exact Jaccard
    (_JACCARD_SQL) reaches JACCARD_T — the verify's last step, after
    _verify_sql's CTEs."""
    return f"""SELECT {cols}
    FROM inter JOIN sizes na ON {a} = na.id
               JOIN sizes nb ON {b} = nb.id
    WHERE {_JACCARD_SQL} >= {JACCARD_T}"""


MINHASH_ORACLE = f"""
    WITH {_cands_sql("documents")},
    {_verify_sql("cands", "id_a", "id_b")}
    {_verified_sql("id_a", "id_b", f"id_a, id_b, {_JACCARD_SQL} AS jaccard")}
"""

# the verified near-dup pairs d12, d13 and d53 close into groups
_PAIRS_SQL = f"""{_cands_sql("documents")},
    {_verify_sql("cands", "id_a", "id_b")},
    pairs AS ({_verified_sql("id_a", "id_b", "id_a, id_b")})"""


def _groups_sql(edges: str) -> str:
    """The sym, walk and groups CTEs: every node of the (id_a, id_b)
    relation ``edges`` with its group's keeper, the min id of its
    connected component."""
    return f"""{closure_sql(edges, "id_a", "id_b")},
    groups AS (SELECT node AS doc_id, MIN(label) AS keeper FROM walk GROUP BY node)"""


def _quality_sql(src: str, cols: str) -> str:
    """The quality CTE: ``cols`` of the (doc_id, text) relation ``src``
    rows that pass the d04 quality rule."""
    return f"""quality AS (
        SELECT {cols} FROM (
          SELECT doc_id, {quality_counts_sql("text")}
          FROM {src}
        ) WHERE {QUALITY_OK_SQL}
    )"""


# keeper election over quality q and groups g: a row survives when no
# group holds it or it is its group's keeper (elect_keepers' twin)
_KEEPERS_SQL = """LEFT JOIN groups g ON q.doc_id = g.doc_id
    WHERE g.doc_id IS NULL OR g.keeper = q.doc_id"""


def elect_keepers(quality: DataFrame, edges: DataFrame) -> DataFrame:
    """Keeper election: the ``quality`` rows (keyed by doc_id) that no
    near-dup group of ``edges`` (id_a, id_b) holds, or that are their
    group's keeper, the min doc_id of its connected component.  The rows
    gain that ``keeper`` column (null outside every group)."""
    groups = connected_components(edges, src="id_a", dst="id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("keeper")
    )
    return quality.join(groups, "doc_id", "left").filter(
        F.col("keeper").isNull() | (F.col("keeper") == F.col("doc_id"))
    )


@query("d07_minhash_lsh_pairs", oracle=MINHASH_ORACLE, survey="dedup-minhash-lsh")
def d07_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, verified: shingle -> 8 signature
    mins -> 4 LSH bands -> bucket join -> exact Jaccard on candidates only.
    At 100TB the band join touches ~n_docs*4 rows instead of the shingle
    index square; everything is md5/substr inside whole-stage codegen."""
    # shingles feed signatures, sizes and both sides of the intersection
    # join (4 subtree reuses); localCheckpoint materializes the tier once
    # — measured 2.4s -> 1.9s at sf0.1 (r1's "recompute beats cache" was
    # about .cache()'s block-store read path, not checkpointing).
    return _verified_pairs_tier(spark, sf_dir)


DEDUP_GROUPS_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_SQL},
    {closure_sql("pairs", "id_a", "id_b")}
    SELECT node AS doc_id, MIN(label) AS keeper_doc_id
    FROM walk GROUP BY node
"""


@query("d12_dedup_groups", oracle=DEDUP_GROUPS_ORACLE, survey="dedup-groups,J5,J7")
def d12_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ACTION: LSH-verified near-dup pairs -> connected
    components -> one keeper per group (min doc_id). This is the full
    corpus-cleaning composition — candidate generation, verification,
    transitive grouping — each stage the scale-path form, pinned against a
    recursive-CTE oracle."""
    pairs = _verified_pairs_tier(spark, sf_dir)
    comps = connected_components(pairs.select("id_a", "id_b"), src="id_a", dst="id_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("component").alias("keeper_doc_id")
    )


CORPUS_CLEAN_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_SQL},
    {_groups_sql("pairs")},
    {_quality_sql("documents", "doc_id")}
    SELECT q.doc_id FROM quality q
    {_KEEPERS_SQL}
"""


@query("d13_corpus_clean", oracle=CORPUS_CLEAN_ORACLE, survey="dedup-groups,quality-score")
def d13_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-cleaning pipeline: quality gate (length + stopword
    ratio) AND near-dup removal (keep only group keepers). What a 100TB
    training-data prep job actually runs — every stage is the scale-path
    form; the only materialization is the shingle tier (reused by 4
    subtrees — a persisted table in production)."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(quality_ok(*quality_counts(F.col("text")))).select("doc_id")
    pairs = _verified_pairs_tier(spark, sf_dir)
    return elect_keepers(quality, pairs.select("id_a", "id_b")).select("doc_id")


EST_T = 0.5  # signature-agreement threshold for the estimate tier

_EST_AGREE = " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(N_SIGS)
)

MINHASH_ESTIMATE_ORACLE = f"""
    WITH {_cands_sql("documents")}
    SELECT c.id_a, c.id_b,
           CAST(({_EST_AGREE}) AS DOUBLE) / {N_SIGS} AS est_jaccard
    FROM cands c
    JOIN sigs a ON c.id_a = a.id
    JOIN sigs b ON c.id_b = b.id
    WHERE CAST(({_EST_AGREE}) AS DOUBLE) / {N_SIGS} >= {EST_T}
"""


@query(
    "d33_minhash_estimate_pairs",
    oracle=MINHASH_ESTIMATE_ORACLE,
    survey="dedup-minhash-lsh",
)
def d33_minhash_estimate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs with ESTIMATED Jaccard — the verify-free tier for
    the regime the 30x scaling run exposed (SCALE.md round 6): d07's
    exact verification must carry each candidate's shingle ARRAYS
    (KBs/doc) through a shuffle, so at dense near-dup multiplicity the
    verify exchange dominates.  Here similarity is the signature
    agreement fraction — the estimator MinHash signatures exist for —
    so the candidate join carries 8 fixed 8-hex values (64 bytes) per
    side regardless of document size.  Standard 100TB practice: run
    this tier first, exact-verify (d07) only borderline pairs.
    Deterministic end-to-end (md5 signatures), hash-oracled.

    The estimate relation itself is the shared ``est_pairs`` tier
    (_estimate_pairs_tier) that d35's layered verify also reads — d33
    is the tier filtered at EST_T, so the estimator has exactly one
    definition and a session running both queries computes it once."""
    return _estimate_pairs_tier(spark, sf_dir).filter(
        F.col("est_jaccard") >= EST_T
    )


# ---------------------------------------------------------------------------
# SimHash (word-level), at two widths: 32 bits (d08/d32) and 64 bits, the
# production width (d34/d36/d41/d48 — SCALE.md round 6: 8-bit segments
# over a 32-bit hash concentrated 55% of a template corpus into one
# bucket; 16-bit segments over 64 bits re-sparsify)
# ---------------------------------------------------------------------------
HAMMING_T = 3


def simhash_df(docs: DataFrame, bits: int) -> DataFrame:
    """(id, simhash): ``bits``-wide word-level SimHash (32 or 64) of a
    (doc_id, text) relation.  Bit j of a word's md5-hex prefix votes
    +1/-1; the sign of each bit-sum forms the fingerprint.  The prefix
    is read as 32-bit conv() words (a single 16-hex conv overflows
    BIGINT's signed range and nulls out).  At 64 bits, bit 63's
    shift-add term is Long.MIN — the fingerprint is the two's-complement
    64-bit value, identical in DuckDB (bit_count/xor verified
    two's-complement there).  32 bits, not 16: at 100TB the fingerprint
    must discriminate — a 16-bit hash leaves only 16 values per 4-bit
    band, so candidate buckets grow quadratically dense."""
    toks = words(F.col("text"), True)
    h = F.md5(F.col("w"))
    # Per-doc word dedup is ROW-LOCAL (array_distinct) so the bit-sum
    # groupBy fully combines each doc map-side — the exchange carries
    # ~n_docs partial rows, not the word relation.  The previous
    # explode -> distinct -> groupBy shape shuffled every (id, word) row
    # twice; measured 6.3s -> ~1.5s tier build at sf0.1.  (A pure
    # higher-order-function form — aggregate() with an array accumulator,
    # no explode at all — measured 3x SLOWER than this: lambda HOFs run
    # interpreted per element, outside whole-stage codegen, while
    # explode + md5 + partial agg stay codegen end-to-end.)
    word_rows = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(F.array_remove(toks, ""))).alias("w"),
    ).select(
        "id",
        # one hex->long conversion per 32 bits; bits extract with integer
        # shift/mask instead of per-bit substring+conv string ops
        # (measured ~15% off the tier build at sf0.1)
        *[
            F.conv(F.substring(h, 8 * i + 1, 8), 16, 10).cast("long").alias(f"v{i}")
            for i in range(bits // 32)
        ],
    )

    def bit_at(j: int):
        return F.shiftright(F.col(f"v{j // 32}"), 31 - j % 32).bitwiseAND(F.lit(1))

    # Packed accumulators (r16 opt, VERDICT r15 #7): two 32-bit ones-counts
    # per long instead of one ±1 sum per bit — halves the aggregation
    # buffer and the partial rows crossing the exchange.
    # Exact sign equivalence: the old vote sum is 2*ones_j - n_words, so
    # b_j > 0  <=>  2*ones_j > n_words; counts are integers, no rounding.
    # 32-bit fields cannot overflow (ones <= distinct words per doc < 2^31)
    # and the long sum stays under 2^63 for any doc below ~2e9 words.
    sums = [
        F.sum(bit_at(2 * p) + F.shiftleft(bit_at(2 * p + 1), 32)).alias(f"p{p}")
        for p in range(bits // 2)
    ]
    sums.append(F.count(F.lit(1)).alias("nw"))
    agg = word_rows.groupBy("id").agg(*sums)
    # flat shift-add, not a per-bit CASE chain: the deep when/otherwise
    # tree cost ~2.5s of one-time janino compilation per session
    # (measured); boolean-cast + shiftleft compiles in half the time and
    # evaluates identically (2*ones_j > n_words -> bit j set)
    sim = None
    for j in range(bits):
        ones = F.shiftright(F.col(f"p{j // 2}"), 32 * (j % 2)).bitwiseAND(
            F.lit(0xFFFFFFFF)
        )
        term = F.shiftleft((ones * 2 > F.col("nw")).cast("long"), j)
        sim = term if sim is None else sim + term
    return agg.select("id", sim.cast("bigint").alias("simhash"))


def _simhash_sql(bits: int, src: str) -> str:
    """DuckDB twin of ``simhash_df``: the words/hashed/agg/sims CTEs over
    any (doc_id, text) relation ``src``."""
    digit = lambda j: f"(strpos('0123456789abcdef', substr(h, {j // 4 + 1}, 1)) - 1)"
    bit = lambda j: f"(CAST(floor({digit(j)} / {2 ** (3 - j % 4)}) AS BIGINT) % 2)"
    sums = ", ".join(f"SUM({bit(j)} * 2 - 1) AS b{j}" for j in range(bits))
    terms = [
        f"CASE WHEN b{j} > 0 THEN {2**j if j < 63 else '(-9223372036854775807 - 1)'} ELSE 0 END"
        for j in range(bits)
    ]
    val = " + ".join(terms)
    return f"""
    words AS (
        SELECT DISTINCT doc_id AS id, w FROM (
            SELECT doc_id, unnest({words_sql("text", True)}) AS w
            FROM {src}) WHERE w <> ''
    ),
    hashed AS (SELECT id, substr(md5(w), 1, {bits // 4}) AS h FROM words),
    agg AS (SELECT id, {sums} FROM hashed GROUP BY id),
    sims AS (SELECT id, CAST({val} AS BIGINT) AS simhash FROM agg)
    """


def _simhash_pairs_oracle(bits: int) -> str:
    return f"""
    WITH {_simhash_sql(bits, "documents")}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sims a JOIN sims b ON a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_T}
"""


def simhash_candidates(sims: DataFrame, bits: int) -> DataFrame:
    """(id_a, id_b, hamming): verified near-dup pairs of ``bits``-wide
    fingerprints via segment banding.  EXACT for Hamming <= HAMMING_T
    by pigeonhole — the fingerprint splits into HAMMING_T + 1 segments
    (8 bits each at 32, 16 at 64), which HAMMING_T differing bits cannot
    all touch, so every qualifying pair shares >= 1 (segment, value)
    bucket — identical results to the all-pairs form while the only
    join key is the bucket: ~n*4 rows each side, never a theta
    self-join.  Pairs come from first_shared_band_pairs, emitted once
    from their first shared segment, and the Hamming verify runs inside
    the candidate select (bit_count + filter in codegen, no shuffle).
    Segment values extract with shiftrightunsigned + mask: plain
    shiftright/% would sign-extend a 64-bit fingerprint with bit 63 set
    into negative segment values."""
    n_seg = HAMMING_T + 1
    seg_bits = bits // n_seg
    mask = F.lit((1 << seg_bits) - 1)
    segs = [
        F.shiftrightunsigned(F.col("simhash"), seg_bits * s).bitwiseAND(mask)
        for s in range(n_seg)
    ]
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        first_shared_band_pairs(sims, segs)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_T)
    )


def _simhash_tier(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """The documents' fingerprint tier at one width, materialized once
    per session (a ``_tier``: localCheckpoint in the session memo): the
    banded join references it on both sides, and at 100TB it is a
    persisted table."""
    return _tier(
        spark, sf_dir, f"simhash{bits}",
        lambda: simhash_df(load_table(spark, sf_dir, "documents"), bits),
    )


@query("d08_simhash_pairs", oracle=_simhash_pairs_oracle(32), survey="dedup-simhash")
def d08_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit fingerprints, Hamming distance <= 3.
    Scale path: segment-banded candidate join (pigeonhole-exact superset,
    see simhash_candidates) + Hamming verify on candidates only — same
    results as the all-pairs oracle, no O(n^2) self-join in the plan.
    The fingerprint tier is materialized once (_simhash_tier) and
    shared with d32."""
    return simhash_candidates(_simhash_tier(spark, sf_dir, 32), 32)


@query("d34_simhash64_pairs", oracle=_simhash_pairs_oracle(64), survey="dedup-simhash")
def d34_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs, Hamming <= 3 — the production
    fingerprint width: 16-bit segments give 65,536 values per band, so
    the template-corpus concentration that piled 55% of 32-bit
    fingerprints into one 8-bit segment bucket (SCALE.md round 6)
    re-sparsifies, and Hamming<=3 classes shrink to genuine near-dups.
    The same simhash_df / simhash_candidates as d08, at bits=64."""
    return simhash_candidates(_simhash_tier(spark, sf_dir, 64), 64)


SIMHASH_GROUPS_ORACLE = f"""
    WITH {_simhash_sql(32, "documents")}
    SELECT id AS doc_id,
           MIN(id) OVER (PARTITION BY simhash) AS keeper_doc_id
    FROM sims
"""


@query(
    "d32_simhash_groups", oracle=SIMHASH_GROUPS_ORACLE, survey="dedup-simhash,dedup-groups"
)
def d32_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fingerprint SimHash grouping: every document keyed to the
    min doc_id of its 32-bit fingerprint class — the LINEAR-OUTPUT dedup
    action for the dense-corpus regime the 30x scaling run exposed
    (SCALE.md round 6): when near-dup classes are large, the d08 pairs
    relation is O(class^2) BY NATURE, while this grouping stays one
    window over one shuffle at any density.  Exact-simhash match is the
    word-order-robust middle ground between d02's exact text fingerprint
    and d08's Hamming<=3 pairs.  Shares d08's fingerprint tier."""
    sims = _simhash_tier(spark, sf_dir, 32)
    return sims.select(
        F.col("id").alias("doc_id"),
        F.min("id").over(Window.partitionBy("simhash")).alias("keeper_doc_id"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------
COS_T = 0.45

# Exact all-pairs twin: NOT the driver oracle (see _emb_lsh_oracle) — used
# by the local recall test, which pins the LSH path's recall against it.
EMB_EXACT_SQL = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({COSINE_SQL}, 6) AS cos_sim
    FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
    WHERE ROUND({COSINE_SQL}, 6) >= {COS_T}
"""


EMB_DIM = 64
EMB_PLANES = 5  # per-table signature bits
EMB_TABLES = 8  # independent plane sets


def _emb_lsh_oracle() -> str:
    """DuckDB twin of the d09 scale path, generated from the SAME
    deterministic md5-derived hyperplanes (operators/similarity._plane)
    baked in as SQL literals — the two sides cannot drift, and the gate
    pins the operator's SEMANTICS (sign-LSH candidates + exact-cosine
    verify) rather than a dataset-dependent recall property of the test
    corpus (an exact-all-pairs oracle asserts recall == 1.0, which a
    testdata regeneration could break without any code bug)."""
    sigs_sql = embedding_signatures_sql("vecs", EMB_DIM, EMB_PLANES, EMB_TABLES)

    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    sigs AS (
        {sigs_sql}
    ),
    probes AS (
        SELECT vec_id, t, unnest({hamming1_flips_sql(EMB_PLANES)}) AS sig FROM sigs
    ),
    cands AS (
        SELECT DISTINCT p.vec_id AS id_a, s.vec_id AS id_b
        FROM probes p JOIN sigs s
          ON p.t = s.t AND p.sig = s.sig AND p.vec_id < s.vec_id
    ),
    pairs AS (
        SELECT c.id_a, c.id_b, a.emb AS aemb, b.emb AS bemb
        FROM cands c
        JOIN vecs a ON a.vec_id = c.id_a
        JOIN vecs b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b,
           ROUND(list_dot_product(aemb, bemb)
                 / (sqrt(list_dot_product(aemb, aemb))
                    * sqrt(list_dot_product(bemb, bemb))), 6) AS cos_sim
    FROM pairs
    WHERE ROUND(list_dot_product(aemb, bemb)
                / (sqrt(list_dot_product(aemb, aemb))
                   * sqrt(list_dot_product(bemb, bemb))), 6) >= {COS_T}
"""


@query("d09_embedding_neardup", oracle=_emb_lsh_oracle(), survey="dedup-embedding")
def d09_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, scale path: sign-LSH bucket
    candidates (operators/similarity.multiprobe_pairs: Hamming-1
    multiprobe, one (t, sig) equi-join) + exact cosine verify on
    candidates only.  The embeddings projection and the 8-table
    signature relation are materialized tiers (one scan each — the
    signature fold previously re-evaluated on both sides of all 8 table
    branches and the verify re-scanned the parquet twice; at 100TB both
    are persisted tables, the index one partitioned by (t, sig)).  The
    ORACLE replicates the same deterministic LSH scheme in DuckDB from
    shared plane literals (_emb_lsh_oracle), so the gate is
    dataset-independent; recall against the exact all-pairs twin
    (EMB_EXACT_SQL) is pinned separately by tests/test_operators.py.
    Cosine stays JVM-side via zip_with/aggregate."""
    emb = _tier(
        spark, sf_dir, "emb",
        lambda: load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
        ),
        table="embeddings",
    )
    sigs = _tier(
        spark, sf_dir, "emb_sigs",
        lambda: embedding_signatures(emb, EMB_DIM, EMB_PLANES, EMB_TABLES),
        table="embeddings",
    )
    cands = multiprobe_pairs(sigs, sigs, EMB_PLANES).filter(
        F.col("probe_id") < F.col("index_id")
    )
    a = emb.select(F.col("id").alias("probe_id"), F.col("emb").alias("qemb"))
    b = emb.select(F.col("id").alias("index_id"), F.col("emb").alias("nemb"))
    return (
        cands.join(a, "probe_id")
        .join(b, "index_id")
        .select(
            F.col("probe_id").alias("id_a"),
            F.col("index_id").alias("id_b"),
            F.round(cosine("qemb", "nemb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COS_T)
    )


# ---------------------------------------------------------------------------
# Tiered verification + the production corpus-clean composition
# (SCALE.md round 6: exact verification's cost at density is the
# candidate-with-shingle-array intermediate crossing an exchange; the
# signature-agreement estimate is 3.6x cheaper at 30x with the same
# yield.  The production path layers them: estimate first, exact verify
# ONLY the borderline band.)
# ---------------------------------------------------------------------------
EST_ACCEPT = 0.875  # >= 7 of 8 signatures agree: accept on the estimate alone
EST_REJECT = 0.375  # <= 2 of 8 agree: reject without touching shingle arrays


def tiered_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, sim, method): near-dup pairs through the LAYERED
    verify — signature-agreement estimate on every LSH candidate (fixed
    64-byte payload per side), exact array-intersect Jaccard ONLY for
    the borderline band EST_REJECT <= est < EST_ACCEPT.  Document-sized
    shingle arrays cross the verify exchange for borderline candidates
    alone; clear accepts and clear rejects never touch them — at 30x
    density that is the difference between d33's 39.9 s and d07's
    143.3 s (SCALE.md round 6), with the borderline re-check recovering
    exact-verify precision where the 8-signature estimate is noisy."""
    return tiered_pairs_from(
        _doc_arrays_tier(spark, sf_dir), _estimate_pairs_tier(spark, sf_dir)
    )


def tiered_pairs_from(da: DataFrame, est_df: DataFrame) -> DataFrame:
    """The layered-verify branch structure over ANY shingle-array
    relation ``da(id, sh)`` and estimate relation ``est_df(id_a, id_b,
    est_jaccard)`` — ONE definition shared by d35/d36 (raw documents)
    and d41 (substring-cleaned text), so the accept/borderline/reject
    thresholds cannot drift between the stage and the composition."""
    accepted = est_df.filter(F.col("est_jaccard") >= EST_ACCEPT).select(
        "id_a", "id_b",
        F.col("est_jaccard").alias("sim"),
        F.lit("estimate").alias("method"),
    )
    border = est_df.filter(
        (F.col("est_jaccard") >= EST_REJECT) & (F.col("est_jaccard") < EST_ACCEPT)
    ).select("id_a", "id_b")
    exact = verified_pairs_from_arrays(da, border, JACCARD_T).select(
        "id_a", "id_b",
        F.col("jaccard").alias("sim"),
        F.lit("exact").alias("method"),
    )
    return accepted.unionByName(exact)


def _estimate_pairs_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, est_jaccard) for every LSH candidate — the relation
    both the accept branch and the borderline branch of the tiered
    verify read, so it materializes once (in production: the candidate
    table a verify job writes and downstream stages filter)."""

    def build() -> DataFrame:
        sigs = _minhash_sigs_tier(spark, sf_dir)
        return signature_estimate_pairs(sigs, lsh_candidates(sigs))

    return _tier(spark, sf_dir, "est_pairs", build)


def signature_estimate_pairs(sigs: DataFrame, cands: DataFrame) -> DataFrame:
    """(id_a, id_b, est_jaccard): the signature-agreement Jaccard
    estimate over candidate pairs — fixed 64-byte payload per side
    (N_SIGS 8-hex mins), never a document array.  ONE definition shared
    by the document est tier (d33/d35/d36) and the d41 composed build."""
    a = sigs.select(
        F.col("id").alias("id_a"),
        *[F.col(f"s{i}").alias(f"sa{i}") for i in range(N_SIGS)],
    )
    b = sigs.select(
        F.col("id").alias("id_b"),
        *[F.col(f"s{i}").alias(f"sb{i}") for i in range(N_SIGS)],
    )
    agree = None
    for i in range(N_SIGS):
        term = (F.col(f"sa{i}") == F.col(f"sb{i}")).cast("int")
        agree = term if agree is None else agree + term
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (agree.cast("double") / N_SIGS).alias("est_jaccard"))
    )


_TIERED_SQL = f"""
    est AS (
        SELECT c.id_a, c.id_b,
               CAST(({_EST_AGREE}) AS DOUBLE) / {N_SIGS} AS est_jaccard
        FROM cands c
        JOIN sigs a ON c.id_a = a.id
        JOIN sigs b ON c.id_b = b.id
    ),
    accepted AS (
        SELECT id_a, id_b, est_jaccard AS sim, 'estimate' AS method
        FROM est WHERE est_jaccard >= {EST_ACCEPT}
    ),
    border AS (
        SELECT id_a, id_b FROM est
        WHERE est_jaccard >= {EST_REJECT} AND est_jaccard < {EST_ACCEPT}
    ),
    {_verify_sql("border", "id_a", "id_b")},
    exact AS (
        {_verified_sql("id_a", "id_b", f"id_a, id_b, {_JACCARD_SQL} AS sim, 'exact' AS method")}
    ),
    tier_pairs AS (
        SELECT * FROM accepted UNION ALL SELECT * FROM exact
    )
"""

TIERED_PAIRS_ORACLE = f"""
    WITH {_cands_sql("documents")},
    {_TIERED_SQL}
    SELECT id_a, id_b, sim, method FROM tier_pairs
"""


@query(
    "d35_tiered_pairs", oracle=TIERED_PAIRS_ORACLE, survey="dedup-minhash-lsh"
)
def d35_tiered_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layered verify as a declared relation (see
    tiered_verified_pairs): estimate-accept at >= EST_ACCEPT (7 of 8
    signatures), exact-verify only the borderline band, reject below
    EST_REJECT (2 of 8) with no array work at all.  Every branch is
    deterministic (md5 signatures, array_intersect Jaccard), so the
    whole tier hash-oracles."""
    return tiered_verified_pairs(spark, sf_dir)


def fingerprint_star_edges(sims: DataFrame) -> DataFrame:
    """(id_a, id_b): LINEAR star edges on exact fingerprint equality —
    each doc points at the min doc_id of its simhash class, one window
    over one shuffle, output linear in docs.  The ONLY safe way to feed
    fingerprint agreement into a connected-components pass (SCALE.md
    round 7: raw Hamming<=k PAIRS cost their quadratic volume wherever
    consumed; no exact sparsification of a fuzzy-class graph exists)."""
    w = Window.partitionBy("simhash")
    return (
        sims.select(
            F.col("id").alias("id_b"),
            F.min("id").over(w).alias("id_a"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
    )


CORPUS_CLEAN_TIERED_ORACLE = f"""
    WITH RECURSIVE {_cands_sql("documents")},
    {_TIERED_SQL},
    {_simhash_sql(64, "documents")},
    sim_edges AS (
        SELECT keeper AS id_a, id AS id_b FROM (
            SELECT id, MIN(id) OVER (PARTITION BY simhash) AS keeper FROM sims
        ) WHERE id <> keeper
    ),
    all_pairs AS (
        SELECT id_a, id_b FROM tier_pairs
        UNION
        SELECT id_a, id_b FROM sim_edges
    ),
    {_groups_sql("all_pairs")},
    {_quality_sql("documents", "doc_id")}
    SELECT q.doc_id FROM quality q
    {_KEEPERS_SQL}
"""


@query(
    "d36_corpus_clean_tiered",
    oracle=CORPUS_CLEAN_TIERED_ORACLE,
    survey="dedup-groups,dedup-simhash,dedup-minhash-lsh,quality-score",
)
def d36_corpus_clean_tiered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION corpus-clean composition, rewired onto the round-6
    scale tiers (the r6 verdict's top item): near-dup edges come from
    (a) the tiered MinHash verify (d35 — estimate-accept, borderline
    exact only) and (b) LINEAR star edges on exact 64-bit SimHash
    fingerprint equality (each doc -> the min doc_id of its fingerprint
    class — one window, output linear in docs).  Their union feeds one
    connected-components pass; the quality gate + keeper election are
    unchanged from d13.

    Measured negative result that shaped (b) (SCALE.md round 7): the
    first form of this composition unioned d34's Hamming<=3 PAIRS into
    the CC — and measured SLOWER than the exact d13 at 30x (218.2 s vs
    184.7 s), because the 31.4M-pair relation dominated the CC's edge
    input: the output-quadratic the r6 run diagnosed had just moved one
    stage downstream.  Dense fuzzy-match classes cost their pair volume
    WHEREVER they are consumed; the composition therefore takes the
    word-order-robust exact-fingerprint groups (linear by construction)
    from the SimHash side and leaves genuine fuzzy near-dups to the
    Jaccard tier, which bounds them by verified similarity.  d13 remains
    the exact-verified correctness twin; d34's pairs relation remains
    the declared analysis query for when pairs ARE the product."""
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.filter(quality_ok(*quality_counts(F.col("text")))).select("doc_id")
    tier_pairs = tiered_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    sims64 = _simhash_tier(spark, sf_dir, 64)
    edges = tier_pairs.unionByName(fingerprint_star_edges(sims64))
    return elect_keepers(quality, edges).select("doc_id")


# ---------------------------------------------------------------------------
# d41: the full production training-data build — exact-substring removal
# FIRST (Lee et al. 2021 order: near-dup fingerprints see cleaned text),
# then the tiered near-dup clean, then the quality gate
# ---------------------------------------------------------------------------


def _d41_oracle() -> str:
    from .text4 import _CLEAN_SQL, _SPANS_SQL

    return f"""
    WITH RECURSIVE {_SPANS_SQL},
    {_CLEAN_SQL},
    documents_clean AS (
        SELECT d.doc_id, COALESCE(a.clean_text, '') AS text
        FROM toked d LEFT JOIN clean_agg a USING (doc_id)
    ),
    {_cands_sql("documents_clean")},
    {_TIERED_SQL},
    {_simhash_sql(64, "documents_clean")},
    sim_edges AS (
        SELECT keeper AS id_a, id AS id_b FROM (
            SELECT id, MIN(id) OVER (PARTITION BY simhash) AS keeper FROM sims
        ) WHERE id <> keeper
    ),
    all_pairs AS (
        SELECT id_a, id_b FROM tier_pairs
        UNION
        SELECT id_a, id_b FROM sim_edges
    ),
    {_groups_sql("all_pairs")},
    {_quality_sql("documents_clean", "doc_id, n_tokens")}
    SELECT q.doc_id, c.text AS clean_text,
           CAST(q.n_tokens AS BIGINT) AS n_clean_tokens
    FROM quality q
    JOIN documents_clean c USING (doc_id)
    {_KEEPERS_SQL}
"""


def _d41_cleaned_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text): the substring-CLEANED corpus — d39's removal
    output renamed to the (doc_id, text) shape every downstream stage
    consumes.  Materialized once; shingling, simhash and the quality
    gate all read it (in production: the cleaned-text table the
    substring pass writes)."""
    from .text4 import substring_dedup_clean

    return _tier(
        spark, sf_dir, "d41_cleaned",
        lambda: substring_dedup_clean(load_table(spark, sf_dir, "documents")).select(
            "doc_id", F.col("clean_text").alias("text")
        ),
    )


@query(
    "d41_training_data_build",
    oracle=_d41_oracle(),
    survey="dedup-substring,dedup-minhash-lsh,dedup-simhash,dedup-groups,quality-score",
)
def d41_training_data_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END production training-data build, composed in the
    Lee et al. (2021) order: exact duplicate-substring REMOVAL first
    (d39 — so every downstream fingerprint sees cleaned text), then the
    tiered near-dup clean (d36's machinery: layered MinHash verify +
    linear SimHash64 star edges -> one connected-components pass +
    keeper election), then the quality gate — (doc_id, clean_text,
    n_clean_tokens), one row per SURVIVING document: what actually
    ships to the tokenizer.

    Every stage is the SAME definition as its standalone query
    (substring_dedup_clean, tiered_pairs_from, signature_estimate_pairs,
    fingerprint_star_edges), applied to the cleaned relation — the
    composition adds no new operator semantics, only the order.  Scale
    shape: the cleaned tier is written once and read by three
    scan-shaped consumers; all near-dup machinery keeps its measured
    30x/100x posture (SCALE.md rounds 6-8) because the input shape
    (doc_id, text) is unchanged — only shorter."""
    cleaned = _d41_cleaned_tier(spark, sf_dir)
    da = _tier(spark, sf_dir, "d41_arrays", lambda: shingle_arrays_df(cleaned))
    sigs = _tier(
        spark, sf_dir, "d41_sigs",
        lambda: minhash_signatures(da.select("id", F.explode("sh").alias("shingle"))),
    )
    est = _tier(
        spark, sf_dir, "d41_est",
        lambda: signature_estimate_pairs(sigs, lsh_candidates(sigs)),
    )
    tier_pairs = tiered_pairs_from(da, est).select("id_a", "id_b")
    sims64 = _tier(spark, sf_dir, "d41_simhash64", lambda: simhash_df(cleaned, 64))
    edges = tier_pairs.unionByName(fingerprint_star_edges(sims64))
    n_tokens, n_stop = quality_counts(F.col("text"))
    quality = cleaned.filter(quality_ok(n_tokens, n_stop)).select(
        "doc_id", n_tokens.cast("bigint").alias("n_clean_tokens")
    )
    return (
        elect_keepers(quality, edges)
        .join(cleaned, "doc_id")
        .select("doc_id", F.col("text").alias("clean_text"), "n_clean_tokens")
    )


def _d47_oracle() -> str:
    from .text2 import SPLIT_BUCKET_SQL, SPLIT_CASE_SQL

    return f"""
    WITH built AS ({_d41_oracle()}),
    fp AS (
        SELECT doc_id, n_clean_tokens, {content_fp_sql("clean_text")} AS group_fp
        FROM built
    ),
    b AS (
        SELECT doc_id, n_clean_tokens,
               {SPLIT_BUCKET_SQL.format(fp="group_fp")} AS bucket
        FROM fp
    )
    SELECT {SPLIT_CASE_SQL.format(b="bucket")} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_clean_tokens) AS BIGINT) AS n_tokens
    FROM b
    GROUP BY 1
"""


@query(
    "d47_training_split_manifest",
    oracle=_d47_oracle(),
    survey="split-leakage-safe,token-count,dedup-substring,dedup-groups",
)
def d47_training_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST stage of the training-data story: d41's surviving
    cleaned corpus routed through the d46 leakage-safe split (assignment
    hashed from the cleaned-content fingerprint, RNG-free) and rolled up
    into the manifest a trainer actually reads — (split, n_docs,
    n_tokens).  Composition only: d41 supplies the survivors (its tiers
    are shared, so this costs one extra scan-side projection + a 3-row
    aggregate), the d46 expressions supply the split, and token
    accounting sums the already-computed n_clean_tokens.  At 100 TB the
    per-doc split column is written with the shards (shuffle-free, like
    d46); this manifest is its bounded per-split rollup."""
    from .text2 import split_bucket, split_label

    built = d41_training_data_build(spark, sf_dir)
    b = built.select(
        "n_clean_tokens",
        split_bucket(content_fp(F.col("clean_text"))).alias("bucket"),
    )
    return (
        b.select(split_label(F.col("bucket")).alias("split"), "n_clean_tokens")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_clean_tokens").cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming-similarity batch twin gate (the continuous ANN probe's
# expressions, driver-verified — VERDICT r6 #5)
# ---------------------------------------------------------------------------
_V05_MOD = 4  # vec_id % 4 == 0 plays the arriving micro-batch


def _v05_oracle() -> str:
    """DuckDB twin of the streaming similarity probe: the corpus splits
    into an arriving batch (vec_id % _V05_MOD == 0) and the persisted
    index (the rest); the batch's signatures multiprobe the index at
    Hamming<=1 and candidates exact-cosine verify — the DIRECTED form of
    the d09 scheme, from the same plane literals."""
    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    newv AS (SELECT * FROM vecs WHERE vec_id % {_V05_MOD} = 0),
    idxv AS (SELECT * FROM vecs WHERE vec_id % {_V05_MOD} <> 0),
    new_sigs AS (
        {embedding_signatures_sql("newv", EMB_DIM, EMB_PLANES, EMB_TABLES)}
    ),
    idx_sigs AS (
        {embedding_signatures_sql("idxv", EMB_DIM, EMB_PLANES, EMB_TABLES)}
    ),
    probes AS (
        SELECT vec_id, t, unnest({hamming1_flips_sql(EMB_PLANES)}) AS sig FROM new_sigs
    ),
    cands AS (
        SELECT DISTINCT p.vec_id AS new_id, s.vec_id AS corpus_id
        FROM probes p JOIN idx_sigs s
          ON p.t = s.t AND p.sig = s.sig AND p.vec_id <> s.vec_id
    )
    SELECT c.new_id, c.corpus_id,
           ROUND(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_sim
    FROM cands c
    JOIN newv a ON a.vec_id = c.new_id
    JOIN idxv b ON b.vec_id = c.corpus_id
    WHERE ROUND(list_dot_product(a.emb, b.emb)
                / (sqrt(list_dot_product(a.emb, a.emb))
                   * sqrt(list_dot_product(b.emb, b.emb))), 6) >= {COS_T}
"""


@query(
    "v05_stream_similarity_gate",
    oracle=_v05_oracle(),
    survey="similarity-ann-lsh,dedup-embedding,R5",
)
def v05_stream_similarity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming embedding-similarity probe's batch-equivalent path,
    as a declared gate (the d27 pattern: a deterministic split plays the
    two sides): vec_id % 4 == 0 is the arriving micro-batch, the rest
    the persisted index, and the match runs through THE SAME
    probe_matches expressions streaming/similarity_stream.py executes
    per micro-batch (directed Hamming-1 multiprobe + exact-cosine
    verify) — so the continuous ANN probe is driver-hash-verified
    through its batch twin, like the rest of the streaming family."""
    from ..streaming.similarity_stream import probe_matches

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    newv = emb.filter(F.col("id") % _V05_MOD == 0)
    idxv = emb.filter(F.col("id") % _V05_MOD != 0)
    return probe_matches(
        newv,
        embedding_signatures(newv, EMB_DIM, EMB_PLANES, EMB_TABLES),
        embedding_signatures(idxv, EMB_DIM, EMB_PLANES, EMB_TABLES),
        idxv,
    )


# ---------------------------------------------------------------------------
# d48: incremental corpus refresh — the per-crawl admission gate a
# continuously-ingested training corpus runs: exact dedup against the
# previous build's fingerprint index (d27), quality gating (d41's gate),
# and NEAR-dup rejection against the previous build's SimHash64 index —
# all with cost proportional to the delta + two fingerprint-sized indexes,
# never the previous corpus text
# ---------------------------------------------------------------------------

# doc_id % text4._PREV_MOD == 0 plays the previously-ingested corpus;
# text4's d27 duplicate plants take precedence over the near-dup plants
# below.  Planted near-duplicates: SimHash64 hashes the DISTINCT word
# set, so a word-order permutation of the same vocabulary is a
# guaranteed near-dup (identical simhash) that is NOT an exact dup
# (different normalized md5).
_D48_NEARPREV_MOD = 31  # prev gets _W ordered, delta gets _W reversed
_D48_NEARBATCH_MOD = 37  # delta-only: two permutations of _X by doc_id parity
_D48_W = (
    "amber basalt cobalt dunes ember flint garnet heath iris jasper krait "
    "lotus maple nectar onyx prism quartz rivet slate topaz umber vortex"
)
_D48_X = (
    "anchor bison cedar dagger eagle falcon gecko harbor ingot jackal kelp "
    "lantern marble nickel osprey pebble quiver russet saffron tundra "
    "urchin willow"
)
_D48_W_REV = " ".join(reversed(_D48_W.split()))
_D48_X_REV = " ".join(reversed(_D48_X.split()))


def _d48_oracle() -> str:
    from .text4 import _PREV_MOD, _dup_planted_sql

    return f"""
    WITH near AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_D48_NEARPREV_MOD} = 0
                    THEN CASE WHEN doc_id % {_PREV_MOD} = 0
                              THEN '{_D48_W}' ELSE '{_D48_W_REV}' END
                    WHEN doc_id % {_D48_NEARBATCH_MOD} = 0 AND doc_id % {_PREV_MOD} != 0
                    THEN CASE WHEN doc_id % 2 = 0
                              THEN '{_D48_X}' ELSE '{_D48_X_REV}' END
                    ELSE text END AS text
        FROM documents
    ),
    {_dup_planted_sql("near")},
    {_simhash_sql(64, 'planted')},
    feat AS (
        SELECT doc_id, {content_fp_sql("text")} AS fp,
               {quality_counts_sql("text")},
               (doc_id % {_PREV_MOD} = 0) AS is_prev
        FROM planted
    ),
    joined AS (
        SELECT f.doc_id, f.fp, f.n_tokens, f.n_stop, f.is_prev, s.simhash
        FROM feat f JOIN sims s ON s.id = f.doc_id
    ),
    prev_fp AS (SELECT DISTINCT fp FROM joined WHERE is_prev),
    prev_sim AS (SELECT DISTINCT simhash FROM joined WHERE is_prev),
    lvl1 AS (
        SELECT j.*, (p.fp IS NOT NULL) AS seen_prev
        FROM joined j LEFT JOIN prev_fp p ON j.fp = p.fp
        WHERE NOT j.is_prev
    ),
    lvl2 AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM lvl1 WHERE NOT seen_prev
    ),
    lvl3 AS (
        SELECT *, ({QUALITY_OK_SQL}) AS quality_ok
        FROM lvl2 WHERE rn = 1
    ),
    lvl4 AS (
        SELECT l.*, (q.simhash IS NOT NULL) AS near_prev
        FROM lvl3 l LEFT JOIN prev_sim q ON l.simhash = q.simhash
        WHERE l.quality_ok
    ),
    lvl5 AS (
        SELECT *, MIN(doc_id) OVER (PARTITION BY simhash) AS keeper
        FROM lvl4 WHERE NOT near_prev
    ),
    sel AS (
        SELECT doc_id, n_tokens, 'in_prev_build' AS reason FROM lvl1 WHERE seen_prev
        UNION ALL
        SELECT doc_id, n_tokens, 'dup_in_batch' FROM lvl2 WHERE rn > 1
        UNION ALL
        SELECT doc_id, n_tokens, 'low_quality' FROM lvl3 WHERE NOT quality_ok
        UNION ALL
        SELECT doc_id, n_tokens, 'near_dup_prev' FROM lvl4 WHERE near_prev
        UNION ALL
        SELECT doc_id, n_tokens, 'near_dup_batch' FROM lvl5 WHERE doc_id <> keeper
        UNION ALL
        SELECT doc_id, n_tokens, 'admitted' FROM lvl5 WHERE doc_id = keeper
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, reason,
           (reason = 'admitted') AS admitted
    FROM sel
"""


def refresh_verdicts(
    delta: DataFrame, prev_fp: DataFrame, prev_sim: DataFrame
) -> DataFrame:
    """The d48 admission chain as a reusable operator over persisted
    indexes — the production call shape: ``delta`` is
    (doc_id, fp, n_tokens, n_stop, simhash) for the arriving batch only,
    ``prev_fp`` (fp) and ``prev_sim`` (simhash) are the previous build's
    stored fingerprint indexes.  Returns one (doc_id, n_tokens, reason,
    admitted) verdict per delta document; see d48 for the verdict order.
    Cost: one window + one join per index on delta-sized data — nothing
    here scales with the previous corpus except the index join sides."""
    lvl1 = (
        delta.join(prev_fp.withColumn("_pf", F.lit(True)), "fp", "left")
        .withColumn("seen_prev", F.coalesce("_pf", F.lit(False)))
        .drop("_pf")
    )
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    lvl2 = lvl1.filter(~F.col("seen_prev")).withColumn("rn", F.row_number().over(w_fp))
    lvl3 = lvl2.filter(F.col("rn") == 1).withColumn(
        "quality_ok", quality_ok(F.col("n_tokens"), F.col("n_stop"))
    )
    lvl4 = (
        lvl3.filter("quality_ok")
        .join(prev_sim.withColumn("_ps", F.lit(True)), "simhash", "left")
        .withColumn("near_prev", F.coalesce("_ps", F.lit(False)))
        .drop("_ps")
    )
    lvl5 = lvl4.filter(~F.col("near_prev")).withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("simhash"))
    )

    def slice_(df: DataFrame, cond, reason: str) -> DataFrame:
        return df.filter(cond).select(
            "doc_id", "n_tokens", F.lit(reason).alias("reason")
        )

    sel = (
        slice_(lvl1, F.col("seen_prev"), "in_prev_build")
        .unionByName(slice_(lvl2, F.col("rn") > 1, "dup_in_batch"))
        .unionByName(slice_(lvl3, ~F.col("quality_ok"), "low_quality"))
        .unionByName(slice_(lvl4, F.col("near_prev"), "near_dup_prev"))
        .unionByName(slice_(lvl5, F.col("doc_id") != F.col("keeper"), "near_dup_batch"))
        .unionByName(slice_(lvl5, F.col("doc_id") == F.col("keeper"), "admitted"))
    )
    return sel.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "reason",
        (F.col("reason") == "admitted").alias("admitted"),
    )


def refresh_features(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, n_tokens, n_stop, simhash) — everything the refresh
    verdict chain needs, from one text scan joined with the SimHash64
    aggregate.  Shared by the d48 gate (over the planted split) and the
    scale tool (over a replica split); the admitted side of a production
    refresh appends exactly these columns to the two indexes."""
    n_tokens, n_stop = quality_counts(F.col("text"))
    feat = docs.select(
        "doc_id",
        content_fp(F.col("text")).alias("fp"),
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
    )
    sims = simhash_df(docs, 64)
    return feat.join(sims, feat.doc_id == sims.id).drop("id")


@query(
    "d48_incremental_refresh",
    oracle=_d48_oracle(),
    survey="dedup-incremental,dedup-simhash,quality-score",
)
def d48_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus REFRESH — the composed per-crawl admission gate
    (d27's exact incremental dedup widened with d41's quality gate and a
    near-dup check against the previous build): every delta document
    gets exactly one verdict, in production order — cheapest first —
    (1) exact fingerprint in the previous build -> in_prev_build,
    (2) not the first of its exact class within the batch -> dup_in_batch,
    (3) fails the quality gate -> low_quality (no fingerprint work is
    spent on documents the gate would drop),
    (4) SimHash64 equal to a previous-build fingerprint -> near_dup_prev,
    (5) SimHash64 class already has a lower-id batch survivor ->
        near_dup_batch,
    else admitted.  doc_id % 4 == 0 plays the previous corpus.

    Planted fixtures make every verdict reachable on the synthetic
    corpus: d27's shared-boilerplate (% 23) and batch-duplicate (% 29)
    exact plants, plus word-PERMUTATION plants for the near-dup paths —
    SimHash64 hashes the distinct word SET, so a reordering of the same
    22 words is a guaranteed near-dup (identical fingerprint) that no
    exact check catches (% 31 spans prev/delta; % 37 is delta-only,
    two orderings by doc_id parity).

    Scale shape: the previous build contributes ONLY two indexes — a
    16-byte exact fingerprint relation and an 8-byte SimHash64 relation
    (both persisted by the previous refresh; rebuilt here from the
    deterministic prev split so the oracle can replay them).  The delta
    pays one text scan (fingerprint + simhash + quality in one pass),
    two index equi-joins and two windows; nothing ever re-reads the
    previous corpus text, so a daily refresh costs O(delta + indexes)
    regardless of corpus age — the same contract as d27, extended to
    near-dups."""
    from .text4 import _PREV_MOD, _dup_planted

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    near = docs.select(
        "doc_id",
        F.when(
            k % _D48_NEARPREV_MOD == 0,
            F.when(k % _PREV_MOD == 0, F.lit(_D48_W)).otherwise(F.lit(_D48_W_REV)),
        )
        .when(
            (k % _D48_NEARBATCH_MOD == 0) & (k % _PREV_MOD != 0),
            F.when(k % 2 == 0, F.lit(_D48_X)).otherwise(F.lit(_D48_X_REV)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    planted = _tier(spark, sf_dir, "d48_planted", lambda: _dup_planted(near))
    joined = refresh_features(planted).withColumn(
        "is_prev", F.col("doc_id") % _PREV_MOD == 0
    )
    prev_fp = joined.filter("is_prev").select("fp").distinct()
    prev_sim = joined.filter("is_prev").select("simhash").distinct()
    delta = joined.filter(~F.col("is_prev")).drop("is_prev")
    return refresh_verdicts(delta, prev_fp, prev_sim)


_D52_CAP = 4  # small enough that sf0.01 buckets actually split

_D52_ORACLE = f"""
    WITH {_shingles_sql("documents")},
    {_sig_sql()},
    {_bands_sql()},
    split AS (
        SELECT id, band, bh,
               (row_number() OVER (PARTITION BY band, bh
                                   ORDER BY md5(CAST(id AS VARCHAR)), id) - 1)
               % CAST(CEIL(CAST(COUNT(*) OVER (PARTITION BY band, bh) AS DOUBLE)
                           / {_D52_CAP}) AS BIGINT) AS sub
        FROM bands
    ),
    sub_mins AS (
        SELECT band, bh, sub, MIN(id) AS sid FROM split GROUP BY band, bh, sub
    ),
    spine AS (
        SELECT LEAST(sid, bmin) AS id_a, GREATEST(sid, bmin) AS id_b
        FROM (SELECT band, bh, sid,
                     MIN(sid) OVER (PARTITION BY band, bh) AS bmin
              FROM sub_mins)
        WHERE sid != bmin
    ),
    cands AS (
        SELECT DISTINCT id_a, id_b FROM (
            SELECT a.id AS id_a, b.id AS id_b
            FROM split a
            JOIN split b ON a.band = b.band AND a.bh = b.bh
                        AND a.sub = b.sub AND a.id < b.id
            UNION ALL
            SELECT id_a, id_b FROM spine
        )
    ),
    {_TIERED_SQL}
    SELECT id_a, id_b, sim, method FROM tier_pairs
"""


@query("d52_capped_tier_pairs", oracle=_D52_ORACLE, survey="dedup-minhash-lsh,skew")
def d52_capped_tier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-family-capped candidate path (lsh_candidates_capped) as a
    driver gate: band buckets larger than the cap split into exact
    row_number-mod sub-buckets BEFORE the pair join (hard per-bucket
    quadratic bound — a 100k-member near-dup family emits linear
    candidates, measured in SCALE.md round 10), with the sub-minimum
    spine keeping split buckets CC-connected.  The oracle replays the
    split (same md5 order, same ceil arithmetic), the spine, and the
    d35 layered verify over the capped candidate set — byte parity or
    red.  Cap pinned to {_D52_CAP} so sf0.01 buckets genuinely split."""
    docs = load_table(spark, sf_dir, "documents")
    return tiered_pairs_capped(docs, bucket_cap=_D52_CAP)


_D53_ORACLE = f"""
    WITH RECURSIVE {_PAIRS_SQL},
    {closure_sql("pairs", "id_a", "id_b")},
    comp AS (SELECT node, MIN(label) AS comp FROM walk GROUP BY node),
    tok AS (
        SELECT doc_id, len({words_sql("text", False)}) AS n_tokens
        FROM documents
    ),
    keepers AS (
        SELECT comp, doc_id AS keeper, n_tokens AS keeper_tokens FROM (
            SELECT c.comp, c.node AS doc_id, t.n_tokens,
                   row_number() OVER (PARTITION BY c.comp
                                      ORDER BY t.n_tokens DESC, c.node) AS rn
            FROM comp c JOIN tok t ON t.doc_id = c.node
        ) WHERE rn = 1
    )
    SELECT c.node AS doc_id,
           k.keeper AS keeper_doc_id,
           c.node = k.keeper AS kept
    FROM comp c JOIN keepers k ON c.comp = k.comp
"""


@query(
    "d53_quality_keeper_election",
    oracle=_D53_ORACLE,
    survey="dedup-groups,quality-score",
)
def d53_quality_keeper_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper election: d12's dedup groups, but each
    cluster keeps its BEST member — highest token count, doc_id tiebreak
    — instead of the min id.  This is what production corpus cleans
    actually do (keep the longest/highest-quality copy of a near-dup
    family, not an arbitrary one); the min-id form (d12) remains the
    cheap variant when members are interchangeable.  Same LSH-verified
    pair tier and closure; one extra broadcast-able token-count join and
    a per-component argmax window.  At 100 TB the window partitions by
    component (bounded groups), never globally."""
    from pyspark.sql import Window as W

    pairs = _verified_pairs_tier(spark, sf_dir)
    comps = connected_components(
        pairs.select("id_a", "id_b"), src="id_a", dst="id_b"
    ).select(F.col("node").alias("doc_id"), F.col("component").alias("comp"))
    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words(F.col("text"), False)).alias("n_tokens"),
    )
    scored = comps.join(tok, "doc_id")
    w = W.partitionBy("comp").orderBy(F.desc("n_tokens"), "doc_id")
    keepers = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col("doc_id").alias("keeper_doc_id"))
    )
    return comps.join(keepers, "comp").select(
        "doc_id",
        "keeper_doc_id",
        (F.col("doc_id") == F.col("keeper_doc_id")).alias("kept"),
    )
