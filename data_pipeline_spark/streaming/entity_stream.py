"""Streaming entity builds: the incremental rebuild (r11 /
pipeline/incremental.py) run continuously — each micro-batch is a change
feed crawl folded into DELTA-layout state tiers.

All build logic is the batch operator (incremental_build) inside
``foreachBatch`` — the streaming layer only sequences crawls and manages
state versions, so batch and streaming incremental builds CANNOT diverge
(the r11 gate and the incremental == full-rebuild test vouch for the
shared definitions; the streaming test closes the loop by checking the
final streamed state equals a full rebuild over the final records tier).

State layout (merge-on-read over the bucketed-base store of
index_util.py):

    state_dir/{records,idmap,merged}/v=base     bucketed base: one parquet
                                                file per hash bucket + meta
    state_dir/{records,idmap,merged}/d=<key>    PER-CRAWL DELTA rows
    state_dir/touched/d=<key>                   (tier, k) touched keys

The reference applies per-record cache and idmap row updates in place
(its update manager's process_change mutates the record cache and idmap
entries for just the changed identifiers); the lakehouse restatement of
that transactional row update is the merge-on-read delta log (what Hudi
MOR / Delta DVs do — hand-rolled here since neither ships in the env):

- a crawl writes ONLY its blast-radius slice per tier plus a manifest of
  the keys it touched (records keyed by canonical uri, idmap/merged by
  yuid).  Touched keys with no delta row are deletions.
- reading state at crawl N folds base + the committed deltas before N:
  base rows whose key no delta touched survive (one corpus scan with a
  BROADCAST anti-join — the touched sets are delta-sized, so no
  corpus-sized exchange), and each touched key takes its rows from the
  LAST delta that touched it (winner resolution is delta-sized).
  The fold is idempotent over an already-folded base, which is what
  makes compaction crash-safe (below).
- compact_entity_state folds committed deltas into base and removes
  them, bounding read-side fan-in; cadence is the operator's knob (the
  CLI exposes --compact / --compact-every).  Each tier's base is the
  store's bucketed base keyed on the fold key, so compaction is the
  store's partial rewrite: ONLY the bucket files holding touched keys
  are rewritten, staged invisibly and swapped in by atomic per-file
  replace behind a persisted plan.  Bucket count, staging, plan,
  repair, rebucket and stats are the store's — this module keeps only
  the fold, the delta and manifest bookkeeping, and its entry points.

Crash consistency: every maintenance op runs under the exclusive
maintenance lock and repairs first; pure reads never repair (a reader
applying plans would race a live compactor), and need not — a pending
plan implies its deltas' touched manifests still exist (compaction
deletes manifests only after every tier is applied), so the fold
re-selects the same winners over an old, new or half-swapped base.

Retry contract (at-least-once, shared with the dedup/refresh streams):
delta inclusion is gated on the checkpoint COMMIT log AND the delta's
own touched manifest, so a retried micro-batch folds exactly the state
the first attempt saw — never its own partial write (a dead attempt's
delta dirs are uncommitted, hence invisible, and the retry's
per-delta-dir overwrite owns them).  Keys are checkpoint-scoped
(index_util.run_batch_key) so a fresh-checkpoint restart replays against
``v=base`` without colliding with the old run's deltas.
"""

from __future__ import annotations

import os
import re
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.build import run_build
from ..pipeline.incremental import incremental_build
from .index_util import (
    auto_buckets,
    base_stats,
    committed_batch_ids,
    compact_base,
    du,
    has_pending_plan,
    read_base_meta,
    read_buckets,
    read_pending_plan,
    rebucket_base,
    repair_index_dir,
    repair_tier,
    repair_tiers,
    run_batch_key,
    shared_index_lease,
    stream_sink,
    touched_buckets,
    write_bucketed_base,
)
from .locks import maintenance_lock, try_maintenance_lock
from .storage import provider as _storage

CHANGES_SCHEMA = (
    "seq bigint, end_time timestamp, change string, object_uri string, "
    "payload string"
)

_TIERS = ("records", "idmap", "merged")

# the fold key of each tier, as the store's bucket key (SQL expressions):
# records by canonical uri (one JSON path, column-pruned — the
# incremental module's _with_uri argument), idmap/merged by yuid
_KEY = {
    "records": ["get_json_object(data, '$.id')"],
    "idmap": ["yuid"],
    "merged": ["yuid"],
}


def _base_dir(state_dir: str, tier: str) -> str:
    return os.path.join(state_dir, tier, "v=base")


def _delta_dir(state_dir: str, tier: str, key: str) -> str:
    return os.path.join(state_dir, tier, f"d={key}")


def _touched_dir(state_dir: str, key: str) -> str:
    return os.path.join(state_dir, "touched", f"d={key}")


def _with_key(tier: str, df: DataFrame) -> DataFrame:
    """Tag tier rows with their fold key ``_k`` (_KEY).  The records key
    is guaranteed to equal the feed's object_uri by the ingest contract
    (apply_changes_to_records raises on a payload whose $.id differs —
    a mismatch would silently drop the row from the delta fold's winner
    join while the batch path applied it)."""
    return df.withColumn("_k", F.expr(_KEY[tier][0]))


def read_state_meta(state_dir: str) -> dict[str, dict | None]:
    """{tier: bucket meta of its base} — each tier's base carries its
    own meta, which swaps together with the base."""
    return {t: read_base_meta(_base_dir(state_dir, t)) for t in _TIERS}


def repair_state_dir(state_dir: str) -> None:
    """Finish pending plans and sweep un-planned staging in every tier,
    under the exclusive maintenance lock — the explicit recovery entry
    point (stream start runs it; so can an operator after a crash)."""
    _require_layout(state_dir)
    repair_index_dir(state_dir)


def _require_delta_layout(state_dir: str, tier: str) -> None:
    """Refuse, with one actionable error, every state layout this engine
    does not read: round-11 ``v=<key>`` version dirs (their committed
    crawls live where the fold does not look — reading base-only would
    silently serve stale state), and a ``v=base`` without its own bucket
    meta (the round-12 flat base, and the round-13 ``b=<n>`` bucket dirs
    whose meta sat at the state root), and a pending plan without a
    ``base`` key — an older engine's crashed compaction or rebucket,
    whose trash may hold the old ``v=base``: it is refused BEFORE any
    repair could apply it as an index plan.  There is no migration
    code."""
    tdir = os.path.join(state_dir, tier)
    if not os.path.isdir(tdir):
        return
    legacy = sorted(
        d for d in os.listdir(tdir) if d.startswith("v=") and d != "v=base"
    )[:3]
    base = _base_dir(state_dir, tier)
    if os.path.isdir(base) and read_base_meta(base) is None:
        legacy.append("v=base without a bucket meta")
    plan = read_pending_plan(tdir)
    if plan is not None and "base" not in plan:
        legacy.append("a pending maintenance plan of an older engine")
    if legacy:
        raise ValueError(
            f"entity state {state_dir!r} {tier} tier uses a layout this "
            f"engine does not read ({', '.join(legacy)}): it predates the "
            "bucketed-base store. Rebuild the state with init_state into a "
            "new state dir, over the final records tier exported from the "
            "old one (state-export with the engine that wrote it)."
        )


def _require_layout(state_dir: str) -> None:
    for tier in _TIERS:
        _require_delta_layout(state_dir, tier)


def _require_base(state_dir: str, tier: str) -> str:
    bdir = _base_dir(state_dir, tier)
    if not os.path.isdir(bdir):
        raise FileNotFoundError(
            f"entity state {state_dir!r} has no {tier}/v=base — run "
            "init_state (CLI: stream-entity --init-records) before "
            "streaming or reading against this state dir (if a "
            "maintenance op is mid-run, its lock holder restores base)"
        )
    return bdir


def read_base_tier(spark: SparkSession, state_dir: str, tier: str) -> DataFrame:
    """The ``v=base`` rows of a tier — the one supported way to read
    base directly.

    Crash recovery vs concurrency: a PENDING PLAN (a compactor crashed
    after certifying its staging) or a missing base (a whole-base swap
    interrupted between its two renames) is finished here under a
    NON-BLOCKING exclusive lock — if the lock is busy, the holder is a
    live maintenance op already doing that work, and racing it is the
    rmtree/rename collision the lock exists to prevent.  Un-planned
    staging is left alone: it is either a LIVE compactor mid-staging or
    junk a maintenance entry point sweeps later; base is untouched by
    staging either way, so the read is correct without acting."""
    _require_delta_layout(state_dir, tier)
    tpath = os.path.join(state_dir, tier)
    if has_pending_plan(tpath) or not os.path.isdir(_base_dir(state_dir, tier)):
        with try_maintenance_lock(state_dir) as got:
            if got:
                repair_tier(tpath)
    return spark.read.parquet(_require_base(state_dir, tier))


def init_state(
    spark: SparkSession,
    records: DataFrame,
    indexes: dict[str, DataFrame],
    state_dir: str,
    merge_order: dict[str, int] | None = None,
    buckets: int | None = None,
) -> None:
    """Full build over the initial records tier -> a bucketed ``v=base``
    per tier.  ``buckets`` is the compaction granularity knob: partial
    compaction rewrites whole bucket files, so size them to a bounded
    byte range (~128 MB at production scale — corpus_bytes/128MB
    buckets); default auto-sizes at ~200k records per bucket (entity
    rows carry whole JSON documents, so fewer per bucket than the narrow
    index rows)."""
    out = run_build(spark, records, indexes, merge_order=merge_order)
    if buckets is None:
        buckets = auto_buckets(records.count(), rows_per_bucket=200_000)
    for tier, df in (("records", records), ("idmap", out["idmap"]),
                     ("merged", out["merged"])):
        write_bucketed_base(df, _base_dir(state_dir, tier), _KEY[tier],
                            buckets)


def _committed_delta_ids(
    state_dir: str, checkpoint: str, upto: int | None = None
) -> list[int]:
    """Batch ids whose deltas participate in a fold: committed in the
    checkpoint's commit log, optionally strictly before ``upto`` (the
    retry contract: batch N sees exactly the state the first attempt
    saw), and not yet folded into base by compaction (gated on the
    touched manifest still existing — compaction deletes it FIRST, so a
    half-deleted delta is excluded rather than misread as all-deletions).
    """
    done = committed_batch_ids(checkpoint)
    if upto is not None:
        done = {i for i in done if i < upto}
    return sorted(
        i
        for i in done
        if os.path.isdir(_touched_dir(state_dir, run_batch_key(checkpoint, i)))
    )


def _fold_tier(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    tier: str,
    ids: list[int],
) -> DataFrame:
    """Merge-on-read: base + deltas ``ids`` (ascending batch order).

    Winner rule: a key's rows come from the LAST delta that touched it
    (possibly zero rows = deletion), else from base.  Equivalent to
    applying the deltas one by one, and idempotent over a base that
    already includes them (re-application re-selects the same winner
    rows), which is what makes compaction safe to re-run after a
    mid-delete crash."""
    base = read_base_tier(spark, state_dir, tier)
    if not ids:
        return base
    last, rows = _delta_last_and_rows(spark, state_dir, checkpoint, tier, ids)
    return _fold_over(tier, base, last, rows)


def _delta_last_and_rows(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    tier: str,
    ids: list[int],
):
    """(last, rows): the touched-key winner table (_wk -> last batch _wb
    that touched it) and the keyed delta rows tagged with their batch."""
    touched = None
    rows = None
    for i in ids:
        key = run_batch_key(checkpoint, i)
        t = (
            spark.read.parquet(_touched_dir(state_dir, key))
            .filter(F.col("tier") == tier)
            .select(F.col("k").alias("_wk"), F.lit(i).alias("_wb"))
        )
        touched = t if touched is None else touched.unionByName(t)
        r = _with_key(tier, spark.read.parquet(_delta_dir(state_dir, tier, key)))
        r = r.withColumn("_b", F.lit(i))
        rows = r if rows is None else rows.unionByName(r)
    last = touched.groupBy("_wk").agg(F.max("_wb").alias("_wb"))
    return last, rows


def _fold_over(
    tier: str, base: DataFrame, last: DataFrame, rows: DataFrame
) -> DataFrame:
    """The winner/survivor fold over an arbitrary base slice — shared by
    the full merge-on-read fold and partial compaction (which passes only
    the touched BUCKETS of base; valid because every winner key is a
    touched key, so winners always land inside touched buckets)."""
    winners = rows.join(
        F.broadcast(last),
        (rows["_k"] == last["_wk"]) & (rows["_b"] == last["_wb"]),
    ).select(*base.columns)
    # touched sets are delta-sized (the incremental module's blast
    # contract) — broadcast, so the only O(corpus) work is this one
    # scan-side anti-join, never a corpus exchange
    survivors = (
        _with_key(tier, base)
        .join(F.broadcast(last.select("_wk")), F.col("_k") == F.col("_wk"), "left_anti")
        .select(*base.columns)
    )
    return survivors.unionByName(winners)


def read_state_at(
    spark: SparkSession, state_dir: str, checkpoint: str, batch_id: int
) -> dict[str, DataFrame]:
    """The state a (possibly retried) micro-batch must build against:
    base folded with the deltas of committed batches BEFORE it.  Commits
    only advance after a successful batch, so a retry folds the same
    sources as the first attempt."""
    ids = _committed_delta_ids(state_dir, checkpoint, upto=batch_id)
    return {
        tier: _fold_tier(spark, state_dir, checkpoint, tier, ids)
        for tier in _TIERS
    }


def entity_build_batch(
    spark: SparkSession,
    changes: DataFrame,
    state_dir: str,
    indexes: dict[str, DataFrame],
    checkpoint: str,
    batch_id: int,
    merge_order: dict[str, int] | None = None,
    last_harvest: str | None = None,
    delta_partitions: int = 8,
) -> None:
    """One crawl: incremental_build against the folded pre-state, DELTA
    tiers + touched manifest written under the crawl's key with overwrite
    (idempotent per-delta-dir write — the retry contract).  Every write
    is blast-radius-sized; the full tiers are never rewritten (SCALE.md
    round 12: per-crawl write bytes flat vs corpus scale).

    ``delta_partitions`` caps each delta's FILE count: deltas are
    blast-sized by the incremental module's contract, but their lineage
    ends at shuffle-partition width (64 near-empty files per tier per
    crawl — a small-files problem at crawl cadence; measured 5x delta
    bytes at fixture scale from parquet footers alone).  Coalesce, not
    repartition: no extra exchange, just narrower writes."""
    st = read_state_at(spark, state_dir, checkpoint, batch_id)
    inc = incremental_build(
        spark, st["records"], changes, indexes,
        idmap_prev=st["idmap"], prev_merged=st["merged"],
        merge_order=merge_order, last_harvest=last_harvest,
    )
    key = run_batch_key(checkpoint, batch_id)
    inc["records_delta"].coalesce(delta_partitions).write.mode(
        "overwrite"
    ).parquet(_delta_dir(state_dir, "records", key))
    inc["idmap"].select("qua_uri", "yuid").coalesce(
        delta_partitions
    ).write.mode("overwrite").parquet(_delta_dir(state_dir, "idmap", key))
    inc["merged"].coalesce(delta_partitions).write.mode("overwrite").parquet(
        _delta_dir(state_dir, "merged", key)
    )
    yuids = inc["touched_yuids"].select(F.col("yuid").alias("k"))
    touched = (
        inc["touched_uris"].select(
            F.lit("records").alias("tier"), F.col("uri").alias("k")
        )
        .unionByName(yuids.select(F.lit("idmap").alias("tier"), "k"))
        .unionByName(yuids.select(F.lit("merged").alias("tier"), "k"))
    )
    touched.coalesce(delta_partitions).write.mode("overwrite").parquet(
        _touched_dir(state_dir, key)
    )


def latest_state(
    spark: SparkSession, state_dir: str, checkpoint: str
) -> dict[str, DataFrame]:
    """The folded tiers of the last committed crawl (base if none)."""
    ids = _committed_delta_ids(state_dir, checkpoint)
    return {
        tier: _fold_tier(spark, state_dir, checkpoint, tier, ids)
        for tier in _TIERS
    }


def rebucket_state(spark: SparkSession, state_dir: str, buckets: int) -> None:
    """Rewrite every tier's base under a NEW bucket count — the
    maintenance op that keeps the ~128 MB-per-bucket rule true as the
    corpus grows (state_stats' bucket_bytes_max is the trigger).  A
    deliberate O(corpus) rewrite, like init: one store rebucket_base per
    tier, so a crash at any instant leaves each tier's old base or its
    new one.  Committed deltas may stay pending: the tier's meta swaps
    with its base and every fold recomputes buckets from it, so the
    rebucket folds nothing and needs no checkpoint.  Holds the exclusive
    maintenance lock: one maintenance op per state dir at a time."""
    if buckets < 1:
        raise ValueError("rebucket_state: buckets must be >= 1")
    _require_layout(state_dir)
    with maintenance_lock(state_dir):
        repair_tiers(state_dir)
        for tier in _TIERS:
            rebucket_base(spark, _base_dir(state_dir, tier), buckets)


def state_stats(state_dir: str, checkpoint: str) -> dict:
    """Operator-facing state summary (no Spark jobs — a directory walk):
    per tier, the store's base_stats (layout, bucket count, bytes,
    bucket-file spread — the rebucket trigger) plus delta dirs and
    bytes; committed delta fan-in (how many deltas every fold currently
    unions — the compact_every feedback) and uncommitted (retry-owned)
    delta dirs."""
    ids = _committed_delta_ids(state_dir, checkpoint)
    committed_keys = {run_batch_key(checkpoint, i) for i in ids}
    out: dict = {"committed_delta_fanin": len(ids), "tiers": {}}
    for tier in _TIERS:
        tdir = os.path.join(state_dir, tier)
        deltas = [
            d for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
            if d.startswith("d=")
        ]
        out["tiers"][tier] = {
            **base_stats(_base_dir(state_dir, tier)),
            "delta_dirs": len(deltas),
            "uncommitted_delta_dirs": sum(
                1 for d in deltas if d[2:] not in committed_keys
            ),
            "delta_bytes": sum(du(os.path.join(tdir, d)) for d in deltas),
        }
    return out


def lookup_state(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    keys: list[str],
    tier: str = "records",
) -> DataFrame:
    """Point lookup of fold keys (records: canonical uri; idmap/merged:
    yuid) against the CURRENT folded state — the serving read the
    bucketed base exists to make cheap.  Reads ONLY the bucket files the
    keys hash to (under the tier's own meta) plus the committed deltas:
    O(|keys| buckets + deltas) instead of a corpus scan (the reference
    serves this from its record cache's keyed get — a primary-key
    SELECT; bucket-pruned file reads are the lakehouse restatement).

    Concurrency: this is the one read explicitly served OUT-OF-BAND
    while a stream/compactor may be live, so it runs under the store's
    repair-then-shared lease (shared_index_lease) and materializes
    inside it — a crashed compactor's plan is finished first, and a live
    one's per-file swaps can never be observed mid-listing."""
    if not keys:
        raise ValueError("lookup_state: keys must be non-empty")
    _require_layout(state_dir)
    with shared_index_lease(state_dir):
        bdir = _require_base(state_dir, tier)
        ids = _committed_delta_ids(state_dir, checkpoint)
        keys_df = spark.createDataFrame([(k,) for k in keys], "_lk string")
        want = touched_buckets(keys_df, read_base_meta(bdir)["buckets"])
        folded = read_buckets(spark, bdir, want)
        if ids:
            last, rows = _delta_last_and_rows(
                spark, state_dir, checkpoint, tier, ids
            )
            folded = _fold_over(tier, folded, last, rows)
        out = (
            _with_key(tier, folded)
            .join(F.broadcast(keys_df), F.col("_k") == F.col("_lk"), "left_semi")
            .drop("_k")
        )
        # materialize INSIDE the lease: the result is |keys|-sized, and a
        # lazily-returned plan would read the bucket files after release
        return out.localCheckpoint()


def compact_entity_state(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
) -> dict[str, int]:
    """Fold this checkpoint's committed deltas into ``v=base`` and
    delete them — the LSM compaction bounding read-side delta fan-in
    (without it every fold unions one more delta per crawl forever).

    Cost ∝ delta, not corpus: per tier, the touched keys of the folding
    deltas (a broadcast-sized winner table) are the store's touched set,
    and compact_base rewrites ONLY their bucket files with the
    merge-on-read fold over them (valid because every winner key is a
    touched key, so winners always land inside touched buckets) — staged
    invisibly, certified by a persisted plan, applied by atomic per-file
    replace; a bucket whose keys were all deleted loses its files, and a
    tier whose keys were ALL deleted keeps one empty schema-bearing file.

    Kept, each load-bearing:
    - any UNCOMMITTED delta dir (a dead attempt's partial write): its
      batch may retry, and the retry's per-delta overwrite owns it;
    - nothing else needs keeping — once batch M commits, the pre-M fold
      states are unreachable (Structured Streaming never re-executes a
      committed batch, and batch M+1 folds base+deltas≤M, which the new
      base now IS).

    Refuses when ANOTHER checkpoint's deltas are present
    (require_sole_lineage): folding rewrites the shared base.

    Crash ordering: the per-tier plans are idempotent to re-run with the
    deltas still present (re-folding an already-folded bucket re-selects
    the same winners); only after ALL tiers applied is each delta's
    touched manifest deleted BEFORE its row dirs (fold membership is
    gated on the manifest, so a half-deleted delta drops out instead of
    being misread as all-deletions); orphaned row dirs from a previous
    crash are swept.

    Holds the exclusive maintenance lock for the whole
    stage->plan->apply critical section, which serializes two
    maintenance processes and excludes the shared-leased serving read.

    Returns {tier: number of delta directories removed}."""
    _require_layout(state_dir)
    require_sole_lineage(state_dir, checkpoint)
    with maintenance_lock(state_dir):
        return _compact_locked(spark, state_dir, checkpoint)


def require_sole_lineage(state_dir: str, checkpoint: str) -> None:
    """Refuse maintenance when ANOTHER checkpoint's deltas are present:
    folding rewrites the shared base, which would corrupt the other
    run's folds.  (The full-tier r11 layout tolerated shared state dirs;
    the delta layout trades that for delta-sized writes — entity state
    dirs are per-pipeline, unlike the shared dedup/similarity indexes.)
    Exposed so stream start can FAIL FAST when compaction is scheduled
    (ADVICE r13: the --compact-every default previously surfaced a
    shared state dir only at batch N, mid-stream, inside the sink)."""
    own = re.escape(
        run_batch_key(checkpoint, 0).rsplit("-b", 1)[0]
    )  # this checkpoint's 32-hex scope
    foreign = set()
    for sub in (*_TIERS, "touched"):
        tdir = os.path.join(state_dir, sub)
        if not os.path.isdir(tdir):
            continue
        for d in os.listdir(tdir):
            m = re.fullmatch(r"d=(.+)", d)
            if m and not re.fullmatch(rf"{own}-b\d+", m.group(1)):
                foreign.add(m.group(1))
    if foreign:
        raise ValueError(
            "entity-state compaction: delta directories from other "
            f"checkpoints present ({sorted(foreign)[:3]}...); compaction "
            "rewrites the shared base — entity state dirs must be owned "
            "by one stream lineage (run without compaction, or give "
            "each stream its own state dir)"
        )


def _compact_locked(
    spark: SparkSession, state_dir: str, checkpoint: str
) -> dict[str, int]:
    repair_tiers(state_dir)  # finish any interrupted maintenance
    ids = _committed_delta_ids(state_dir, checkpoint)
    removed = {tier: 0 for tier in _TIERS}
    for tier in _TIERS if ids else ():
        last, rows = _delta_last_and_rows(spark, state_dir, checkpoint, tier, ids)
        # materialize the winner table: consumed three times (touched
        # buckets, survivor anti-join, winner join) and its lineage
        # holds every manifest read
        last = last.localCheckpoint()
        compact_base(
            spark, _base_dir(state_dir, tier), last.select("_wk"),
            partial(_fold_over, tier, last=last, rows=rows), fold=[],
        )
    for i in ids:
        key = run_batch_key(checkpoint, i)
        _storage().remove_dir(_touched_dir(state_dir, key))  # gate first
        for tier in _TIERS:
            d = _delta_dir(state_dir, tier, key)
            if os.path.isdir(d):
                _storage().remove_dir(d)
                removed[tier] += 1
    # orphan sweep: COMMITTED deltas whose manifest is gone (a previous
    # compaction died between deletes) are already folded into base —
    # their row dirs are garbage.  Uncommitted dirs stay (retry-owned).
    committed_keys = {
        run_batch_key(checkpoint, i) for i in committed_batch_ids(checkpoint)
    }
    for tier in _TIERS:
        tdir = os.path.join(state_dir, tier)
        if not os.path.isdir(tdir):
            continue
        for d in os.listdir(tdir):
            m = re.fullmatch(r"d=(.+)", d)
            if (
                m
                and m.group(1) in committed_keys
                and not os.path.isdir(_touched_dir(state_dir, m.group(1)))
            ):
                _storage().remove_dir(os.path.join(tdir, d))
                removed[tier] += 1
    return removed




def stream_entity_builds(
    spark: SparkSession,
    feed_path: str,
    state_dir: str,
    checkpoint: str,
    indexes: dict[str, DataFrame],
    merge_order: dict[str, int] | None = None,
    last_harvest: str | None = None,
    compact_every: int | None = None,
):
    """Structured-Streaming wrapper: each micro-batch of change feed rows
    (CHANGES_SCHEMA json) drives one incremental build, inside the
    store's one sink lifecycle (index_util.stream_sink: repair at start,
    compaction every ``compact_every`` batches before the shared lease,
    the batch under the repair-then-shared lease).

    ``last_harvest`` is the R1 watermark, threaded through to
    incremental_build exactly as in the batch path — feed rows at or
    before it are ignored, so a crawl file containing already-harvested
    stale rows cannot re-apply them (the batch/streaming twins share the
    watermark contract, not just the build body).

    ``compact_every``: fold committed deltas into base every N
    micro-batches, bounding the fold's read-side fan-in on long-running
    streams without an operator in the loop.  Safe inside the sink by
    the same commit-gating that covers retries: it folds only batches
    committed BEFORE this one, and a retry of this batch folds the new
    base plus nothing — exactly the state the first attempt saw."""
    _require_layout(state_dir)
    if compact_every:
        # fail FAST on a shared state dir instead of dying at batch N
        # inside the sink
        require_sole_lineage(state_dir, checkpoint)

    def serve(batch: DataFrame, batch_id: int) -> None:
        entity_build_batch(
            spark, batch, state_dir, indexes,
            checkpoint=checkpoint, batch_id=batch_id,
            merge_order=merge_order,
            last_harvest=last_harvest,
        )

    sink = stream_sink(spark, state_dir, checkpoint, serve, compact_every,
                       compact=compact_entity_state)
    feed = (
        spark.readStream.schema(CHANGES_SCHEMA)
        # one feed file per micro-batch: each crawl file is one build
        .option("maxFilesPerTrigger", 1)
        .json(feed_path)
    )
    return (
        feed.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


__all__ = [
    "CHANGES_SCHEMA",
    "init_state",
    "entity_build_batch",
    "read_state_at",
    "read_base_tier",
    "read_state_meta",
    "repair_state_dir",
    "require_sole_lineage",
    "lookup_state",
    "state_stats",
    "rebucket_state",
    "latest_state",
    "compact_entity_state",
    "stream_entity_builds",
]
