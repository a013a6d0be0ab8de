"""Approximate nearest-neighbor search over embedding columns — the 100TB
scale path for similarity queries (driver north-star operator family).

Two stages, both pure DataFrame ops:

1. **Sign-LSH bucketing**: project each vector onto ``n_planes``
   deterministic pseudo-random hyperplanes (component h[j][d] derived from
   md5(j,d) — reproducible across runs/engines, no RNG state) and bucket by
   the sign pattern. Vectors are written bucketed-by-signature; a query
   probes only its own bucket (+ optional multi-probe neighbors at Hamming
   distance 1), so the candidate set is corpus/2^n_planes on average
   instead of the full corpus.
2. **Exact re-rank**: cosine (JVM-side zip_with/aggregate — no UDF) over
   the candidates, window top-k with deterministic tiebreaks.

Brute-force (`knn_bruteforce`) is the correctness baseline the ANN path is
measured against (recall@k, tests/test_similarity.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns, built-in exprs only."""
    return cosine_cols(F.col(a), F.col(b))


def cosine_cols(a: Column, b: Column) -> Column:
    """Column-expression form of ``cosine`` (same fold order, same bits) —
    usable inside higher-order-function lambdas where the operands are
    lambda variables, not named columns."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return dot / (na * nb)


def _plane(j: int, dim: int, table: int = 0) -> list[float]:
    """Deterministic unit-free hyperplane: component d is ±1 from one bit of
    md5(table:j:d). Rademacher projections preserve angles well enough for
    bucketing, and bake into the plan as literals — nothing to ship."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{table}:{j}:{d}".encode()).digest()[0]
        out.append(1.0 if h & 1 else -1.0)
    return out


def lsh_signature(vec_col: str, dim: int, n_planes: int = 8, table: int = 0) -> Column:
    """Bit-string signature: sign of the dot product against each plane."""
    bits = []
    for j in range(n_planes):
        plane = _plane(j, dim, table)
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(c) for c in plane]),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def semantic_dedup(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.6,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with the deterministic k-means, then drop every
    vector that has a lower-id cosine>=threshold duplicate within its
    cluster.  corpus(neighbor_id, nemb) -> (vec_id, cluster_id, kept),
    one row per vector — linear output.

    The within-cluster comparison is sum(C(n_i, 2)) over cluster sizes
    — n^2/k when clusters are balanced, but ``k`` alone is NOT a
    sufficient lever: k-means tracks data density, so the largest
    clusters dominate the pair sum.  Measured at 30x sf0.1 (60k
    vectors, SCALE.md round 7): k=16 -> 261.9 s, k=64 -> 191.9 s —
    1.36x for 4x k, nowhere near the balanced-cluster 4x.

    ``max_cluster_size`` is the production lever (SCALE.md round 8):
    every cluster over the cap is hash-split into ceil(n/cap) balanced
    sub-clusters BEFORE the pair join — row_number over (md5(id), id)
    within the cluster, mod the split count — so no pair-join partition
    ever exceeds the cap, a HARD bound on the per-cluster quadratic
    (exactly sum over sub-clusters of C(<=cap, 2)).  The split is a
    deterministic decimal-free artifact (md5 order + id tiebreak) the
    DuckDB oracle replays verbatim.  Semantics: duplicates are only
    detected within a sub-cluster — the standard SemDeDup recall trade
    (their clusters are capped the same way at LAION scale); the
    declared d40 gate pins the capped path, d37 pins the uncapped one."""
    cents = ivf_centroids(corpus, k=k, iters=iters)
    assigned = _assign(corpus, cents).localCheckpoint()  # reused by 3 subtrees
    pair_keys = ["cluster_id"]
    paired = assigned
    if max_cluster_size is not None:
        paired = capped_assignment(assigned, max_cluster_size)
        pair_keys = ["cluster_id", "sub_id"]
    a = paired.select(
        *pair_keys, F.col("neighbor_id").alias("id_a"), F.col("nemb").alias("ea")
    )
    b = paired.select(
        *pair_keys, F.col("neighbor_id").alias("id_b"), F.col("nemb").alias("eb")
    )
    removed = (
        a.join(b, pair_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine("ea", "eb"), 6) >= threshold)
        .select(F.col("id_b").alias("neighbor_id"))
        .distinct()
        .withColumn("_removed", F.lit(True))
    )
    return assigned.join(removed, "neighbor_id", "left").select(
        F.col("neighbor_id").alias("vec_id"),
        "cluster_id",
        F.col("_removed").isNull().alias("kept"),
    )


def capped_assignment(assigned: DataFrame, max_cluster_size: int) -> DataFrame:
    """Hash-split every over-cap cluster into ceil(n/cap) BALANCED
    sub-clusters: + sub_id on (neighbor_id, nemb, cluster_id).  The
    split is row_number over (md5(id), id) within the cluster, mod the
    split count — deterministic, oracle-replayable, and EXACT: every
    (cluster_id, sub_id) group has at most ``max_cluster_size`` rows by
    construction (a guarantee hash-mod splitting only gives in
    expectation).  Clusters at or under the cap get ceil(n/cap)=1 and
    stay whole.  The per-cluster window sorts one cluster per task —
    n log n and spill-safe even for a mega-cluster, and it runs BEFORE
    any pair join so the quadratic stage never sees an unsplit group."""
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_n"))
    w = W.partitionBy("cluster_id").orderBy(
        F.md5(F.col("neighbor_id").cast("string")), "neighbor_id"
    )
    n_splits = F.ceil(F.col("_n").cast("double") / max_cluster_size).cast("bigint")
    return (
        assigned.join(F.broadcast(sizes), "cluster_id")
        .withColumn("sub_id", (F.row_number().over(w) - 1) % n_splits)
        .drop("_n")
    )


def knn_bruteforce(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k: broadcast the (small) query batch against the corpus.
    queries(query_id, qemb), corpus(neighbor_id, nemb)."""
    pairs = corpus.join(
        F.broadcast(queries), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("cos_sim", F.round(cosine("qemb", "nemb"), 6))
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def ivf_centroids(corpus: DataFrame, k: int = 16, iters: int = 2) -> DataFrame:
    """IVF coarse quantizer: k centroids via deterministic k-means —
    seeds are the k lexically-first vectors (no RNG), then ``iters`` Lloyd
    steps as DataFrame joins (assign = broadcast-argmin, update = groupBy
    mean). Returns (cluster_id, cemb). Deterministic CROSS-ENGINE, not
    just cross-run: per-dimension coordinate sums accumulate in DECIMAL
    (order-independent — a double sum's value depends on reduction order,
    so two engines, or two shuffles, can disagree in the last ulp and
    legally flip an assignment at a boundary), and each mean is ROUNDed
    to 9 digits before it re-enters the assignment — the centroid relation
    is therefore an exact decimal artifact both Spark and the DuckDB
    oracle (queries/vector._v04_oracle) reproduce bit-identically.

    Known tie caveat: the double->DECIMAL(30,15) cast rounds HALF_UP in
    both engines, but a double that is an EXACT tie at scale 15 (a
    dyadic like 2^-16) depends on both engines agreeing on the tie
    direction.  The generated corpora never land on such ties (gate- and
    test-pinned); adversarially constructed inputs could in principle
    diverge there — if that ever matters, pre-round inputs to a coarser
    fixed scale before the cast so no representable double is a tie."""
    # cluster ids are used as deterministic tiebreaks downstream, so the
    # numbering must be reproducible: the seed array is sorted by the
    # seed's own neighbor_id and cluster_id is the array index — one tiny
    # aggregate + inline instead of the former single-partition
    # row_number window (r16; the bench's "No Partition Defined for
    # Window operation" warnings came from that node)
    cents = (
        corpus.orderBy("neighbor_id")
        .limit(k)
        .agg(F.array_sort(F.collect_list(F.struct("neighbor_id", "nemb"))).alias("_sv"))
        .select(
            F.inline(
                F.transform(
                    "_sv",
                    lambda s, i: F.struct(
                        i.cast("int").alias("cluster_id"), s["nemb"].alias("cemb")
                    ),
                )
            )
        )
    )
    for _ in range(iters):
        assigned = _assign(corpus, cents)
        # mean per (cluster, dimension): posexplode -> groupBy -> rebuild,
        # the layout that scales (never a whole cluster in one row);
        # decimal accumulation + fixed-scale rounding per the determinism
        # contract above
        per_dim = (
            assigned.select("cluster_id", F.posexplode("nemb").alias("d", "v"))
            .groupBy("cluster_id", "d")
            .agg(
                F.round(
                    (
                        F.sum(F.col("v").cast("decimal(30,15)")).cast("double")
                        / F.count(F.lit(1))
                    ),
                    9,
                ).alias("mean_v")
            )
        )
        cents = (
            per_dim.groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("d", "mean_v"))
                ).alias("dims")
            )
            .select(
                "cluster_id",
                F.expr("transform(dims, x -> x.mean_v)").alias("cemb"),
            )
        )
    return cents


def _assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast centroids, argmin by cosine
    with deterministic (cluster_id) tiebreak.  round(sim, 6) before the
    ranking: coarser grids make a cross-engine disagreement (the true
    value landing within float noise of a rounding boundary) LESS likely,
    and exact ties — which the grid makes more common — resolve by
    cluster_id identically everywhere.

    Shape note (r16, TRIED AND REVERTED): a fully ROW-LOCAL argmin —
    centroids packed into one array row, `array_max(transform(_cs,
    struct(sim, -cluster_id)))` — removes this window's exchange
    entirely but measured v04 3.95 -> 5.29 s, v09 3.71 -> 5.64 s
    (5-rep medians, same host back-to-back): a cosine inside a nested
    `transform` lambda runs fully interpreted per element, ~3.4 s for
    2000x16 assignments, where the crossJoin fan-out evaluates the same
    HOF as a top-level projection an order of magnitude faster and
    Spark 4's WindowGroupLimit already trims the argmin exchange to ~1
    row per key per map partition (the same finding that rejected the
    max_by rewrite in r15)."""
    scored = corpus.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", F.round(cosine("nemb", "cemb"), 6)
    )
    w = W.partitionBy("neighbor_id").orderBy(F.desc("sim"), "cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("neighbor_id", "nemb", "cluster_id")
    )


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN: assign the corpus to coarse clusters once (the persisted,
    partition-pruned index at scale), probe each query's ``nprobe``
    nearest clusters, exact-cosine re-rank inside. Candidates ≈
    corpus * nprobe / n_clusters."""
    # checkpoint the trained centroids (n_clusters rows): they are
    # broadcast by BOTH the corpus assignment and the query probe, and
    # without the checkpoint each broadcast re-executes the full Lloyd
    # lineage — iters corpus scans + per-vector argmin windows apiece
    # (v09 r15 baseline: 10 physical parquet scans, most of them this
    # lineage; knn_ivf_pq already does this for its codebook).  At 100 TB
    # the centroid relation is the persisted coarse-quantizer index;
    # materializing it once IS the production shape.  EAGER,
    # not lazy: both broadcasts can be built concurrently inside one job,
    # and a lazy checkpoint then races — each build computes the deferred
    # Lloyd lineage before either has cached it (the r16 lazy-checkpoint
    # boundary, measured on v04: 3.7 -> 4.3 s).
    cents = ivf_centroids(corpus, n_clusters).localCheckpoint()
    indexed = _assign(corpus, cents)
    qscored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "sim", F.round(cosine("qemb", "cemb"), 6)
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("sim"), "cluster_id")
    probes = (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qemb", "cluster_id")
    )
    # clusters partition the corpus, so (query, neighbor) appears at most
    # once across probes — no dedup exchange needed before the top-k
    pairs = (
        indexed.join(F.broadcast(probes), "cluster_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine("qemb", "nemb"), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 2,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k: bucket-join on LSH signatures, exact cosine re-rank.

    Recall levers (standard LSH tuning):
    - ``n_tables`` independent plane sets: a true neighbor is a candidate
      if it collides in ANY table — recall 1-(1-p^b)^L;
    - ``multiprobe``: each query also probes the n_planes buckets at
      Hamming distance 1, buying recall with probes instead of index copies.

    Candidate volume ≈ corpus * L * (1+n_planes) / 2^n_planes; tune
    n_planes up as the corpus grows. At scale the corpus index is written
    once, partitioned by (table, sig), so each probe is a partition-pruned
    read, and only candidates ever reach the exact cosine."""
    cands = None
    for t in range(n_tables):
        csig = corpus.withColumn("sig", lsh_signature("nemb", dim, n_planes, t))
        qsig = queries.withColumn("sig", lsh_signature("qemb", dim, n_planes, t))
        if multiprobe:
            flips = F.array(
                F.col("sig"),
                *[
                    F.concat(
                        F.substring(F.col("sig"), 1, j),
                        F.when(F.substring(F.col("sig"), j + 1, 1) == "1", "0").otherwise("1"),
                        F.substring(F.col("sig"), j + 2, n_planes - j - 1),
                    )
                    for j in range(n_planes)
                ],
            )
            qsig = qsig.withColumn("sig", F.explode(flips))
        one = csig.join(F.broadcast(qsig), "sig").filter(
            F.col("query_id") != F.col("neighbor_id")
        )
        cands = one if cands is None else cands.unionByName(one)
    pairs = cands.dropDuplicates(["query_id", "neighbor_id"]).withColumn(
        "cos_sim", F.round(cosine("qemb", "nemb"), 6)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


def _pq_subdims(vec_df: DataFrame, id_col: str, emb_col: str, dsub: int) -> DataFrame:
    """Per-dimension layout (id, sub, dsub, val): posexplode the vector and
    split dimension d into subspace d // dsub, offset d % dsub.  Row-local
    fan-out of the scan — no exchange."""
    return vec_df.select(
        id_col, F.posexplode(emb_col).alias("d", "val")
    ).select(
        id_col,
        (F.col("d") / dsub).cast("int").alias("sub"),
        (F.col("d") % dsub).alias("dsub"),
        "val",
    )


def _pq_assign(sv: DataFrame, cb: DataFrame, id_col: str) -> DataFrame:
    """(id, sub) -> nearest code by squared L2 against the broadcast
    codebook.  Per-dimension squared differences accumulate in DECIMAL
    (order-independent) and the distance ROUNDs to 6 before the ranking —
    the same cross-engine determinism contract as ivf_centroids."""
    d2 = (
        sv.join(F.broadcast(cb), ["sub", "dsub"])
        .withColumn("sq", (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval")))
        .groupBy(id_col, "sub", "code")
        .agg(
            F.round(
                F.sum(F.col("sq").cast("decimal(30,15)")).cast("double"), 6
            ).alias("dist")
        )
    )
    w = W.partitionBy(id_col, "sub").orderBy("dist", "code")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "sub", "code")
    )


def pq_train_codes(
    sv: DataFrame,
    seeds: DataFrame,
    iters: int = 1,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """PQ training + encoding from the per-dimension layout
    sv(neighbor_id, sub, dsub, val) and a seeds(neighbor_id, code)
    relation: returns (codebook(sub, code, dsub, cval),
    codes(neighbor_id, sub, code)).  Shared by the raw-vector index
    (``pq_index``) and the IVF-residual index (``knn_ivf_pq``) — the
    trained artifact follows the same determinism contract either way
    (decimal-accumulated means ROUNDed to 9, squared-L2 distances
    ROUNDed to 6, code-id tiebreaks)."""
    cb = (
        sv.join(F.broadcast(seeds), "neighbor_id")
        .select("sub", "code", "dsub", F.col("val").alias("cval"))
    )
    for _ in range(iters):
        asg = _pq_assign(sv, cb, "neighbor_id")
        cb = (
            asg.join(sv, ["neighbor_id", "sub"])
            .groupBy("sub", "code", "dsub")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("decimal(30,15)")).cast("double")
                    / F.count(F.lit(1)),
                    9,
                ).alias("cval")
            )
        )
    if materialize:
        # checkpoint the trained codebook BEFORE deriving codes: codes'
        # lineage otherwise re-runs the whole training plan when it is
        # itself materialized (measured double-training in measure_pq)
        cb = cb.localCheckpoint()
    codes = _pq_assign(sv, cb, "neighbor_id")
    if materialize:
        codes = codes.localCheckpoint()
    return cb, codes


def pq_index(
    corpus: DataFrame,
    m: int = 8,
    dsub: int = 8,
    ks: int = 16,
    iters: int = 1,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization index over corpus(neighbor_id, nemb):
    returns (codebook(sub, code, dsub, cval), codes(neighbor_id, sub, code)).

    The codebook is trained by the same deterministic k-means recipe as
    ivf_centroids, run over ALL subspaces at once as one relation (subspace
    is a grouping column, not a loop — one Spark job trains m codebooks):
    seeds are the sub-vectors of the ``ks`` lexically-first corpus vectors,
    then ``iters`` Lloyd steps with DECIMAL-accumulated means ROUNDed to 9
    digits before re-entering the assignment, squared-L2 distances ROUNDed
    to 6 with code-id tiebreaks — an exact decimal artifact a SQL oracle
    replays bit-identically.

    Scale posture: the codebook is m*ks*dsub rows (1024 at the defaults —
    always broadcast); training shuffles fixed-size (id, sub, code)
    aggregates; the persisted index stores m uint8-sized codes + one norm
    per vector instead of the full vector — 64-dim float64 collapses from
    512 B to ~16 B (32x), which is the difference between an in-memory and
    a disk-bound candidate scan at 100 TB.

    ``materialize=True`` localCheckpoints the codebook before encoding
    and the codes after: without it, a caller that materializes the
    returned codes re-executes the whole training plan through the
    codes' lineage (measured double-training in tools/measure_pq.py) —
    the persisted-index stand-in for serving and measurement."""
    sv = _pq_subdims(corpus, "neighbor_id", "nemb", dsub)
    seeds = (
        corpus.orderBy("neighbor_id")
        .limit(ks)
        .select("neighbor_id")
        .withColumn("code", F.row_number().over(W.orderBy("neighbor_id")) - 1)
    )
    return pq_train_codes(sv, seeds, iters=iters, materialize=materialize)


def vector_norms(df: DataFrame, id_col: str, emb_col: str, out: str = "nrm") -> DataFrame:
    """(id, L2 norm) of an embedding column — at 100 TB this relation is
    INDEX data, persisted next to the PQ codes so the serving path never
    reads a full vector outside the re-rank."""
    return df.select(
        id_col,
        F.sqrt(
            F.aggregate(F.col(emb_col), F.lit(0.0), lambda s, v: s + v * v)
        ).alias(out),
    )


def knn_pq_adc(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    dsub: int = 8,
    ks: int = 16,
    rerank: int = 20,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """PQ-ADC ANN top-k (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search" — asymmetric distance computation):
    rank the WHOLE corpus from its 8-byte PQ codes plus a per-vector norm,
    then read full vectors only for the ``rerank`` best candidates per
    query.

    ADC: each query builds a (sub, code) -> partial-dot lookup table
    (m*ks = 128 rows, broadcast) against the trained codebook; a corpus
    vector's estimated dot product is the sum of its m table hits —
    est_cos = adc_dot / (|q|*|v|) with exact stored norms.  The estimate
    ranking never touches an embedding array: the scan side is the codes
    relation (m small ints + a norm per vector), which is the entire point
    at 100 TB — the full vectors stay in cold storage and only
    rerank*|queries| of them are ever fetched for the exact re-rank.

    Determinism: partial dots and the m-way ADC sum accumulate in DECIMAL;
    est_cos and the exact re-rank cosine ROUND to 6 with neighbor_id
    tiebreaks — fully replayable in a SQL oracle (queries/vector
    _v06_oracle).

    ``index``: optional prebuilt (codebook, codes, norms) triple — the
    persisted-index serving path.  At 100 TB ``pq_index`` +
    ``vector_norms`` run ONCE per corpus build and every query batch
    reuses the stored relations; passing them here charges a query batch
    only its serving cost (LUT build + ADC rank + re-rank).  The
    subspace geometry is DERIVED from the codebook itself (its max dsub
    offset) so the m/dsub/ks parameters are ignored on this path — a
    caller-supplied dsub that disagreed with the stored codebook would
    otherwise mis-pair dimensions in the LUT join and corrupt the
    ranking silently.  Default None trains in-line — the self-contained
    declared-query form with an identical plan to before this parameter
    existed."""
    if index is not None:
        cb, codes, norms = index
        # one tiny job over the broadcast-sized codebook; geometry is
        # index metadata, never a caller guess
        dsub = cb.agg(F.max("dsub")).first()[0] + 1
    else:
        cb, codes = pq_index(corpus, m=m, dsub=dsub, ks=ks)
        norms = vector_norms(corpus, "neighbor_id", "nemb")
    qnorms = queries.select(
        "query_id",
        F.sqrt(
            F.aggregate(F.col("qemb"), F.lit(0.0), lambda s, v: s + v * v)
        ).alias("qnrm"),
    )
    qsv = _pq_subdims(queries, "query_id", "qemb", dsub)
    lut = (
        qsv.join(F.broadcast(cb), ["sub", "dsub"])
        .withColumn("prod", F.col("val") * F.col("cval"))
        .groupBy("query_id", "sub", "code")
        .agg(
            F.round(
                F.sum(F.col("prod").cast("decimal(30,15)")).cast("double"), 9
            ).alias("dot_sub")
        )
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("dot_sub").cast("decimal(30,15)")).cast("double").alias("adc_dot")
        )
    )
    est = (
        adc.join(F.broadcast(qnorms), "query_id")
        .join(norms, "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("est_cos", F.round(F.col("adc_dot") / (F.col("qnrm") * F.col("nrm")), 6))
    )
    we = W.partitionBy("query_id").orderBy(F.desc("est_cos"), "neighbor_id")
    cand = (
        est.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= rerank)
        .select("query_id", "neighbor_id", "est_cos")
    )
    # only rerank*|queries| full vectors are ever read: broadcast the tiny
    # candidate list into the corpus scan, then exact-cosine top-k
    rer = (
        corpus.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cos_sim", F.round(cosine("qemb", "nemb"), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "est_cos", "cos_sim")
    )


def ivf_pq_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 2,
    dsub: int = 8,
    ks: int = 16,
    pq_iters: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """IVF-PQ index build (Jégou et al. 2011 §IV — "inverted file with
    asymmetric distance computation"): coarse-quantize the corpus with the
    deterministic k-means (shared with v04/d37), then product-quantize the
    RESIDUAL v - centroid(v) — residuals concentrate near zero, so the same
    code budget spends its resolution where the vectors actually are.

    Returns (cents(cluster_id, cemb),
             cb(sub, code, dsub, cval)           — residual codebook,
             entries(neighbor_id, cluster_id, sub, code, nrm)) — the
    inverted-list payload: per vector its coarse cell, m residual codes and
    the exact L2 norm.  At 100 TB ``entries`` is THE stored index —
    partitioned by cluster_id, ~17 B/vector instead of 512 B of float64 —
    and the raw vectors stay in cold storage for the re-rank only.
    "A probe is a partition-pruned read" is LITERAL: with entries written
    ``partitionBy("cluster_id")``, Catalyst plans a dynamic-partition-
    pruning subquery from the broadcast probes join, so only the probed
    cells' files are scanned (pinned by
    tests/test_plan_quality.py::test_v07_stored_index_dynamic_partition_pruning).

    The three tiers (and the cluster assignment they share) are
    localCheckpointed, so consuming several of them trains once — the
    persisted-index stand-in for serving and measurement.

    Determinism: residual components are exact double subtractions of two
    decimal artifacts (the stored vector and the 9-digit-rounded centroid),
    and the PQ trainer is the shared pq_train_codes recipe — the whole
    index replays bit-identically in the SQL oracle
    (queries/vector._v07_oracle)."""
    cents = ivf_centroids(corpus, k=n_clusters, iters=iters).localCheckpoint()
    indexed = _assign(corpus, cents).localCheckpoint()
    # residual per-dimension layout: explode the assigned vector against the
    # (broadcast) per-dimension centroid — row-local fan-out, one exchange
    # nowhere (the centroid side is n_clusters*dim rows)
    cdim = cents.select("cluster_id", F.posexplode("cemb").alias("d", "cv"))
    rsv = (
        indexed.select("neighbor_id", "cluster_id", F.posexplode("nemb").alias("d", "v"))
        .join(F.broadcast(cdim), ["cluster_id", "d"])
        .select(
            "neighbor_id",
            (F.col("d") / dsub).cast("int").alias("sub"),
            (F.col("d") % dsub).alias("dsub"),
            (F.col("v") - F.col("cv")).alias("val"),
        )
    )
    seeds = (
        corpus.orderBy("neighbor_id")
        .limit(ks)
        .select("neighbor_id")
        .withColumn("code", F.row_number().over(W.orderBy("neighbor_id")) - 1)
    )
    cb, codes = pq_train_codes(rsv, seeds, iters=pq_iters, materialize=True)
    entries = codes.join(
        indexed.select("neighbor_id", "cluster_id"), "neighbor_id"
    ).join(vector_norms(corpus, "neighbor_id", "nemb"), "neighbor_id").localCheckpoint()
    return cents, cb, entries


def knn_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    dsub: int = 8,
    ks: int = 16,
    rerank: int = 20,
    iters: int = 2,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ ANN top-k — the production composition of the two scale
    levers this family built separately: IVF partition pruning (v04: only
    nprobe/n_clusters of the corpus is scanned per query) times PQ code
    compression (v06: the scanned fraction is 16-byte codes, not 512-byte
    vectors).  This is the FAISS IVFPQ / Jégou et al. architecture — at
    100 TB neither lever suffices alone: IVF over raw vectors still reads
    32x too many bytes per probe, flat PQ still scans the whole corpus.

    ADC with residual codes needs no per-(query, cluster) lookup table:
    dot(q, v) = dot(q, c_v) + dot(q, r_v) ≈ dot(q, c_v) + Σ_sub
    LUT[sub, code_sub(v)] where LUT = dot(q_sub, cb[sub, code]) is the
    same query-global m*ks-row broadcast table as v06 and dot(q, c_v) is
    exact against the broadcast centroids.  est_cos divides by exact
    stored norms; the ``rerank`` best candidates per query get the exact
    cosine over full vectors.

    Determinism: every accumulation crossing a grouping is DECIMAL, every
    ranked value is ROUNDed first (dist/est_cos/cos_sim to 6, means and
    partial dots to 9), every ranking tiebreaks by id — the oracle
    (queries/vector._v07_oracle) replays index build, probe selection, ADC
    and re-rank exactly.

    ``index``: optional prebuilt (cents, cb, entries) triple from
    ``ivf_pq_index`` — the serving path; at scale the index builds once
    per corpus and every query batch pays only LUT + pruned ADC + re-rank."""
    if index is not None:
        cents, cb, entries = index
        dsub = cb.agg(F.max("dsub")).first()[0] + 1
    else:
        # ivf_pq_index checkpoints its tiers: the inline-build path fans
        # the trained index into BOTH the LUT branch (via cb) and the ADC
        # branch (via entries -> codes), so without them the k-means + PQ
        # training lineage would re-execute per branch (ADVICE r9).  The
        # serving path gets the same property from the stored index.
        cents, cb, entries = ivf_pq_index(
            corpus, n_clusters=n_clusters, iters=iters, dsub=dsub, ks=ks
        )
    # probe selection: nprobe nearest centroids per query (broadcast cents)
    qscored = queries.crossJoin(F.broadcast(cents)).withColumn(
        "sim", F.round(cosine("qemb", "cemb"), 6)
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("sim"), "cluster_id")
    probes = (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(
            "query_id",
            "cluster_id",
            # exact dot(q, centroid): the coarse term of the ADC estimate
            F.round(
                F.aggregate(
                    F.zip_with(F.col("qemb"), F.col("cemb"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda s, v: s + v,
                ),
                9,
            ).alias("dot_qc"),
        )
    )
    qnorms = queries.select(
        "query_id",
        F.sqrt(
            F.aggregate(F.col("qemb"), F.lit(0.0), lambda s, v: s + v * v)
        ).alias("qnrm"),
    )
    # query-global residual LUT: dot(q_sub, cb[sub, code]) — m*ks rows/query
    qsv = _pq_subdims(queries, "query_id", "qemb", dsub)
    lut = (
        qsv.join(F.broadcast(cb), ["sub", "dsub"])
        .withColumn("prod", F.col("val") * F.col("cval"))
        .groupBy("query_id", "sub", "code")
        .agg(
            F.round(
                F.sum(F.col("prod").cast("decimal(30,15)")).cast("double"), 9
            ).alias("dot_sub")
        )
    )
    # ADC over probed cells only: the entries scan is pruned to the probed
    # cluster_ids (partition pruning on the stored index), reads codes+norm,
    # never an embedding array
    adc = (
        entries.join(F.broadcast(probes), "cluster_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id", "dot_qc", "nrm")
        .agg(
            F.sum(F.col("dot_sub").cast("decimal(30,15)")).cast("double").alias("adc_dot")
        )
    )
    est = (
        adc.join(F.broadcast(qnorms), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "est_cos",
            F.round((F.col("dot_qc") + F.col("adc_dot")) / (F.col("qnrm") * F.col("nrm")), 6),
        )
    )
    we = W.partitionBy("query_id").orderBy(F.desc("est_cos"), "neighbor_id")
    cand = (
        est.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= rerank)
        .select("query_id", "neighbor_id", "est_cos")
    )
    rer = (
        corpus.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cos_sim", F.round(cosine("qemb", "nemb"), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "est_cos", "cos_sim")
    )


def sq_index(corpus: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Scalar-quantization (int8) index over corpus(neighbor_id, nemb):
    returns (stats(d, mn, mx) — 64 rows, always broadcast;
             codes(neighbor_id, d, c) — one uint8-sized value per
             dimension; norms(neighbor_id, nrm) — exact L2 norms).
    Per-dimension affine quantization: c = floor((v - mn_d) * 255 /
    (mx_d - mn_d)) clamped to [0, 255] — every step is an exact IEEE
    double op on identical operands, so codes are engine-deterministic
    without any decimal machinery (MIN/MAX pick stored doubles).

    The 100 TB fact: 64 dims x 1 byte + a norm = ~72 B/vector vs 512 B
    of float64 (7x) with far better rank fidelity than PQ's 16 B — the
    standard memory/recall middle point between raw vectors and PQ
    codes."""
    sv = corpus.select("neighbor_id", F.posexplode("nemb").alias("d", "val"))
    stats = sv.groupBy("d").agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    codes = (
        sv.join(F.broadcast(stats), "d")
        .select(
            "neighbor_id",
            "d",
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(255),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col("val") - F.col("mn"))
                            * 255.0
                            / (F.col("mx") - F.col("mn"))
                        ),
                    ),
                )
            )
            .cast("int")
            .alias("c"),
        )
    )
    norms = vector_norms(corpus, "neighbor_id", "nemb")
    return stats, codes, norms


def knn_sq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rerank: int = 20,
    index: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Scalar-quantized ANN top-k: rank the whole corpus from int8 codes
    (asymmetric — the query stays full-precision, the corpus value is
    dequantized mn_d + c * (mx_d - mn_d) / 255), then exact-cosine
    re-rank the ``rerank`` best.  Same output shape and determinism
    contract as v06/v07: the per-pair dot accumulates in DECIMAL,
    est_cos and cos_sim ROUND to 6 with id tiebreaks.  ``index`` takes
    a prebuilt (stats, codes, norms) triple — the serving path."""
    if index is not None:
        stats, codes, norms = index
    else:
        stats, codes, norms = sq_index(corpus)
    qsv = queries.select("query_id", F.posexplode("qemb").alias("d", "qval"))
    qnorms = queries.select(
        "query_id",
        F.sqrt(
            F.aggregate(F.col("qemb"), F.lit(0.0), lambda s, v: s + v * v)
        ).alias("qnrm"),
    )
    deq = F.col("mn") + F.col("c") * (F.col("mx") - F.col("mn")) / 255.0
    est = (
        codes.join(F.broadcast(stats), "d")
        .join(F.broadcast(qsv), "d")
        .withColumn("prod", F.col("qval") * deq)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("prod").cast("decimal(30,15)")).cast("double").alias("est_dot")
        )
        .join(norms, "neighbor_id")
        .join(F.broadcast(qnorms), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "est_cos", F.round(F.col("est_dot") / (F.col("qnrm") * F.col("nrm")), 6)
        )
    )
    we = W.partitionBy("query_id").orderBy(F.desc("est_cos"), "neighbor_id")
    cand = (
        est.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= rerank)
        .select("query_id", "neighbor_id", "est_cos")
    )
    rer = (
        corpus.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cos_sim", F.round(cosine("qemb", "nemb"), 6))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "est_cos", "cos_sim")
    )
