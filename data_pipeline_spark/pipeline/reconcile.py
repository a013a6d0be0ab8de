"""Reconciliation: the join family (SURVEY §2.4 J1–J6).

The reference reconciles per record against LMDB KV indexes inside a
Python BFS (process/base/reconciler.py:197-274, process/collector.py:108-278
in /root/reference). Restated Spark-first, reconciliation is a handful of
whole-dataset joins producing one ``equiv_edges(src_uri, dst_uri, rectype,
provenance)`` relation:

- J1 name-equality: names ⋈ name_index on (clean name, rectype),
  size-routed — a bounded (curated) index broadcasts and the record side
  streams; an authority index above the broadcast threshold takes the
  hot/cold-split salted shuffle join.
- J2 uri-equivalence: explode `equivalent[]` ⋈ uri_index.
- J4 sameAs: curated pairs unioned in as edges.
- J3 differentFrom: curated pairs remove edges (both directions) BEFORE
  closure — a left-anti join, so a veto splits components exactly like the
  reference's trash_different_from.
- P4 date plausibility: candidate pairs whose birth years differ by >10y
  are dropped (collector.py:35-106).

All of it is one Catalyst plan per stage — no fixpoint is needed for edge
GENERATION (the closure lives in closure.py); the reference's fixpoint loop
(J6, process/reconciler.py:34-125) exists because it discovers edges one
record at a time over the network; with whole-dataset joins every name/uri
edge is found in a single pass, and transitivity is the component labeling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .envelope import (
    extract_equivalents,
    extract_names,
    extract_timespans,
    record_uri,
    with_doc,
)
from .fixtures import URI


def local_uri_expr(source_col, ident_col):
    return F.concat(F.lit(URI + "/"), source_col, F.lit("/"), ident_col)


def _statically_empty(df: DataFrame) -> bool:
    """True iff ``df`` is PROVABLY empty at plan time — its optimized plan
    is an empty LocalRelation, the shape ``catalog.empty_relation`` (and
    so ``catalog.empty_indexes``) builds for an absent curated index and
    the CLI and gates pass.  A bare ``createDataFrame([], schema)`` is
    NOT such a plan: it optimizes to a LogicalRDD, so this returns False
    for it and no join is elided.  Plan introspection
    only: no job, no take(1) scan, and a False answer merely means "not
    provable", never skips real data.  Used to elide whole join stages
    (r15 opt, guide §2.4 — remove shuffles outright): joining, unioning
    or anti-joining against a provably-empty relation is the identity,
    so the stage's broadcast + join + aggregation jobs are pure
    overhead for every deployment that runs without that index."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return (
            plan.getClass().getSimpleName() == "LocalRelation"
            and plan.data().isEmpty()
        )
    except Exception:
        return False


def name_join(names: DataFrame, name_index: DataFrame) -> DataFrame:
    """J1: records' prioritized clean names probed against the per-source
    name index; type must match. Candidate election (W4,
    reconciler.py:266-274): when several index entries match, the target
    supported by the MOST of the record's names wins, then best (lowest)
    priority, then identifier — all deterministic.

    Size-routed like the closure (SURVEY §7.2: broadcast only bounded
    indexes): an index whose Catalyst size estimate is within
    ``spark.sql.autoBroadcastJoinThreshold`` broadcasts; a larger one,
    or any index when the threshold is -1, takes ``name_join_salted``.
    The estimate is read off the optimized plan's statistics, so routing
    runs no job.  A stored index (parquet) has one; an index built from
    local Python rows (``createDataFrame``, the fixtures and gates) is an
    RDD without one — Catalyst reports Long.MaxValue — and, its rows
    having fit in one process, keeps the broadcast route.  The session's 64 MB
    threshold sits near the measured crossover (SCALE.md round 11:
    blanket replication still wins at 500k entries and loses 1.6-6x at
    5M-20M)."""
    threshold = names.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(str(name_index._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    fits = threshold >= 0 and (size <= threshold or size == 2**63 - 1)
    return _name_join(names, name_index, salted=not fits)


def name_join_salted(names: DataFrame, name_index: DataFrame) -> DataFrame:
    """The large-authority J1 route: when the name index scales with the
    corpus (the reference's full LCNAF/ULAN-sized authorities — millions
    of entries, not a curated broadcast-able dim), the probe becomes a
    shuffle join on (name_clean, rectype), and a celebrity name ("John
    Smith") is hot on BOTH sides.  hot_key_salted_join
    (operators/skew.py) splits the key space: only (name_clean, rectype)
    keys above a probe-side frequency threshold are salted (fanning each
    over n_salts tasks, replicating just the index rows under those
    keys), while the cold remainder takes a plain shuffle join — so the
    corpus-scale index side stays ~1x instead of the n_salts-x a blanket
    salted_join would cost.  Same election as the broadcast route, and
    the same edges (tests/test_pipeline_scale.py); j14 gates it
    directly."""
    return _name_join(names, name_index, salted=True)


def _name_join(names: DataFrame, name_index: DataFrame, salted: bool) -> DataFrame:
    from pyspark.sql import Window as W

    idx_cols = name_index.select(
        F.col("source").alias("idx_source"),
        "name_clean",
        "target_identifier",
        F.col("rectype").alias("idx_rectype"),
    )
    if not salted:
        idx = F.broadcast(idx_cols)
        hits = names.join(
            idx,
            (names.name_clean == idx.name_clean) & (names.rectype == idx.idx_rectype),
        )
    else:
        from ..operators.skew import hot_key_salted_join

        # threshold: a (name, rectype) key is "hot" past ~100 probe rows —
        # well under a task's comfortable row count, well above any
        # legitimate non-celebrity name's frequency
        hits = hot_key_salted_join(
            names,
            idx_cols.withColumnRenamed("idx_rectype", "rectype"),
            ["name_clean", "rectype"],
            spread_cols=["uri"],
            hot_threshold=100,
        )
    hits = hits.filter(F.col("source") != F.col("idx_source"))  # not-self-source (P3)
    votes = hits.groupBy("uri", "rectype", "idx_source", "target_identifier").agg(
        F.count(F.lit(1)).alias("n_votes"), F.min("priority").alias("best_prio")
    )
    w = W.partitionBy("uri", "idx_source").orderBy(
        F.desc("n_votes"), "best_prio", "target_identifier"
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("uri").alias("src_uri"),
            local_uri_expr(F.col("idx_source"), F.col("target_identifier")).alias("dst_uri"),
            "rectype",
            F.lit("name").alias("provenance"),
        )
    )


def uri_join(equivs: DataFrame, uri_index: DataFrame) -> DataFrame:
    """J2: records' equivalent[].id probed against the inverse uri index
    (ext_uri -> local identifier), normalizing http/https + www variants
    on BOTH sides so protocol drift still matches (F10)."""
    from ..functions.strings import normalize_url

    idx = F.broadcast(
        uri_index.select(
            normalize_url(F.col("ext_uri")).alias("ext_norm"),
            F.col("source").alias("idx_source"),
            "target_identifier",
            F.col("rectype").alias("idx_rectype"),
        )
    )
    return (
        equivs.withColumn("dst_norm", normalize_url(F.col("dst_uri")))
        .join(idx, (F.col("dst_norm") == idx.ext_norm))
        .filter(F.col("rectype") == F.col("idx_rectype"))
        .select(
            "src_uri",
            local_uri_expr(F.col("idx_source"), F.col("target_identifier")).alias("dst_uri"),
            "rectype",
            F.lit("uri").alias("provenance"),
        )
    )


def apply_constraints(
    edges: DataFrame, same_as: DataFrame, different_from: DataFrame
) -> DataFrame:
    """J4 + J3: union curated sameAs edges in; veto differentFrom pairs in
    both directions via anti-join. Veto happens BEFORE closure so a vetoed
    pair splits the component (sources/lux/final/reconciler.py:21-55 used
    at process/reconciler.py:133-143)."""
    if _statically_empty(same_as):
        all_edges = edges  # union with a provably-empty side is the identity
    else:
        sa = same_as.select(
            F.col("uri_a").alias("src_uri"),
            F.col("uri_b").alias("dst_uri"),
            F.lit(None).cast("string").alias("rectype"),
            F.lit("sameAs").alias("provenance"),
        )
        all_edges = edges.unionByName(sa)
    if _statically_empty(different_from):
        return all_edges  # anti-join against empty removes nothing
    veto = F.broadcast(
        different_from.select("uri_a", "uri_b")
        .union(different_from.select(F.col("uri_b"), F.col("uri_a")))
    )
    return all_edges.join(
        veto,
        (all_edges.src_uri == veto.uri_a) & (all_edges.dst_uri == veto.uri_b),
        "left_anti",
    )


def date_plausibility_filter(edges: DataFrame, timespans: DataFrame) -> DataFrame:
    """P4 (collector.py:35-106): drop candidate equivalences whose birth
    years differ by more than ±10 years, and any edge touching a record
    with an implausible lifespan (F5). Equi-join on the edge endpoints +
    a post-join range predicate — the reference's only non-equi check."""
    # Join-side reduction (r15 opt, guide §3.2): a timespan row with a
    # null birth AND a passing lifespan check is behaviorally identical
    # to NO row under the left joins below (coalesce(ok, true) passes,
    # the date predicate passes via its isNull branch) — so only rows
    # that can veto an edge need to join.  On real corpora that is the
    # records with parseable birth dates, a small fraction; the edge
    # side then joins against a far smaller relation (often broadcast).
    ts = timespans.select(
        "uri",
        "born_begin_sec",
        F.col("lifespan_ok").alias("ok"),
    ).filter(~F.col("ok") | F.col("born_begin_sec").isNotNull())
    ten_years = int(10 * 365.25 * 86400)
    a = ts.alias("a")
    b = ts.alias("b")
    return (
        edges.join(a, edges.src_uri == F.col("a.uri"), "left")
        .join(b, edges.dst_uri == F.col("b.uri"), "left")
        .filter(F.coalesce(F.col("a.ok"), F.lit(True)) & F.coalesce(F.col("b.ok"), F.lit(True)))
        .filter(
            F.col("a.born_begin_sec").isNull()
            | F.col("b.born_begin_sec").isNull()
            | (F.abs(F.col("a.born_begin_sec") - F.col("b.born_begin_sec")) <= ten_years)
        )
        .select("src_uri", "dst_uri", "rectype", "provenance")
    )


def reconcile(
    records: DataFrame,
    indexes: dict[str, DataFrame],
    min_equivs: int = 3,
) -> DataFrame:
    """Full reconcile pass: one equiv_edges relation from all join families.

    ``indexes`` carries name_index, uri_index, same_as, different_from
    (each may be empty). Returns distinct directed edges; closure.py
    symmetrizes.

    ``min_equivs`` is the J6 gate (process/reconciler.py:23-25,76-86):
    name-matching — the fuzziest join — only runs for records that still
    hold fewer than this many asserted equivalents; well-connected records
    skip it, which both mirrors the reference and prunes the name join's
    probe side at scale.

    J1 picks its route from the name index's size (name_join): the
    broadcast join for a bounded index, the hot/cold-split salted
    shuffle join for an authority index too large to broadcast."""
    # accept a pre-parsed (and possibly checkpointed) envelope relation —
    # run_build shares one parse across reconcile and all_uris
    docs = records if "doc" in records.columns else with_doc(records)
    equivs = extract_equivalents(docs)
    timespans = extract_timespans(docs)

    edges = equivs  # J2 input doubles as direct record-asserted edges
    # Elide whole join families against provably-empty curated indexes
    # (r15 opt, guide §2.4): a name/uri join against an empty index emits
    # zero edges by construction, yet still costs the extraction scans,
    # the gating work, a broadcast build and a window — per stage,
    # per build.  Skipping them is the identity on the edge relation.
    if not _statically_empty(indexes["name_index"]):
        # J6 gate, ROW-LOCAL (r16 opt, VERDICT r15 #3): the reference's
        # gate is per RECORD — "records that still hold fewer than
        # min_equivs asserted equivalents" (process/reconciler.py:23-25)
        # — and a record's asserted-equivalent count is a property of its
        # own doc.equivalent array, so it is computable in the scan with
        # the SAME filter extract_equivalents applies (non-null dst, not
        # a self-loop).  The previous shape re-derived it globally: a
        # groupBy(src_uri) exchange over the exploded equivalents plus a
        # corpus-sized anti-join of the names relation — two shuffles per
        # build that existed to recompute row-local information (guide
        # §2.4).  Identical gating on per-record-unique URIs (the
        # envelope contract; j06's oracle pins it); on a pathological
        # corpus where two records assert the SAME doc id, the row-local
        # form is the reference-faithful one (each record gates on its
        # own count, not the collision-pooled sum).
        uri = record_uri(docs)
        n_eq = F.size(
            F.filter(
                F.coalesce(F.col("doc.equivalent"), F.array()),
                lambda e: e["id"].isNotNull() & (e["id"] != uri),
            )
        )
        gated_names = extract_names(docs.filter(n_eq < min_equivs))
        name_edges = name_join(gated_names, indexes["name_index"])
        edges = edges.unionByName(name_edges)
    if not _statically_empty(indexes["uri_index"]):
        edges = edges.unionByName(uri_join(equivs, indexes["uri_index"]))
    edges = apply_constraints(edges, indexes["same_as"], indexes["different_from"])
    edges = date_plausibility_filter(edges, timespans)
    return edges.dropDuplicates(["src_uri", "dst_uri"])
