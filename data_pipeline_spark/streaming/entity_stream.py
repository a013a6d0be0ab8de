"""Streaming entity builds: the incremental rebuild (r11 /
pipeline/incremental.py) run continuously — each micro-batch is a change
feed crawl folded into DELTA-layout state tiers.

All build logic is the batch operator (incremental_build) inside
``foreachBatch`` — the streaming layer only sequences crawls and manages
state versions, so batch and streaming incremental builds CANNOT diverge
(the r11 gate and the incremental == full-rebuild test vouch for the
shared definitions; the streaming test closes the loop by checking the
final streamed state equals a full rebuild over the final records tier).

State layout (merge-on-read + bucketed base, the round-12/13 scale fix):

    state_dir/_META.json                        {"buckets": N} (round 13)
    state_dir/{records,idmap,merged}/v=base/b=<n>/  base tier, hash-bucketed
    state_dir/{records,idmap,merged}/d=<key>    PER-CRAWL DELTA rows
    state_dir/touched/d=<key>                   (tier, k) touched keys

Until round 11 each crawl wrote FULL tiers under its own version key —
correct, but the write cost per delta-sized crawl was O(corpus): at
100 TB every crawl would rewrite the corpus three times.  The reference
never pays this because its update manager applies per-record cache and
idmap row updates in place (/root/reference
pipeline/process/update_manager.py:12-69 — process_change mutates the
record cache and idmap entries for just the changed identifiers); the
lakehouse restatement of that transactional row update is the
merge-on-read delta log (what Hudi MOR / Delta DVs do — hand-rolled
here since neither ships in the env):

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
  CLI exposes --compact).  Round 13: the base is HASH-BUCKETED on the
  fold key (``v=base/b=<n>``, the Hudi-MOR file-group shape) and
  compaction rewrites ONLY the buckets holding touched keys — with
  buckets sized so each holds a bounded byte range (init's sizing rule),
  compaction cost scales with the delta, not the corpus.  Every bucket
  replacement is staged to a dot-dir Spark readers ignore and applied by
  atomic per-bucket directory renames behind a persisted plan file, so
  no crash instant exists where neither a complete bucket nor its
  recovery plan is on disk (ADVICE r12: the previous whole-base
  ``mode("overwrite")`` had a delete-then-write window that could lose
  the only full copy).  ``_repair_tier`` resumes or rolls back an
  interrupted compaction — ONLY under the exclusive maintenance lock
  (stream start, compact, rebucket), never on the pure read path
  (ADVICE r13: a reader applying plans raced a live compactor; reads
  are correct without repair because a pending plan's deltas are still
  folded on top of the old/new/mixed base).  The out-of-band serving
  read takes the SHARED lock while it materializes.

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

import json
import math
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.build import run_build
from ..pipeline.incremental import incremental_build
from .index_util import committed_batch_ids, run_batch_key
from .locks import maintenance_lock, try_maintenance_lock
from .storage import provider as _storage

CHANGES_SCHEMA = (
    "seq bigint, end_time timestamp, change string, object_uri string, "
    "payload string"
)

_TIERS = ("records", "idmap", "merged")


def _base_dir(state_dir: str, tier: str) -> str:
    return os.path.join(state_dir, tier, "v=base")


def _delta_dir(state_dir: str, tier: str, key: str) -> str:
    return os.path.join(state_dir, tier, f"d={key}")


def _touched_dir(state_dir: str, key: str) -> str:
    return os.path.join(state_dir, "touched", f"d={key}")


def _with_key(tier: str, df: DataFrame) -> DataFrame:
    """Tag tier rows with their fold key ``_k``: records by canonical uri
    (one JSON path, column-pruned — the incremental module's _with_uri
    argument), idmap/merged by yuid.  The records key is guaranteed to
    equal the feed's object_uri by the ingest contract
    (apply_changes_to_records raises on a payload whose $.id differs —
    ADVICE r12: a mismatch would silently drop the row from the delta
    fold's winner join while the batch path applied it)."""
    if tier == "records":
        return df.withColumn("_k", F.get_json_object(F.col("data"), "$.id"))
    return df.withColumn("_k", F.col("yuid"))


def _meta_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_META.json")


def read_state_meta(state_dir: str) -> dict | None:
    """{"buckets": N} for a bucketed-base state dir, None for the flat
    round-12 layout (readable as-is; bucketized by its next compaction)."""
    try:
        with open(_meta_path(state_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _write_state_meta(state_dir: str, meta: dict) -> None:
    tmp = _meta_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    _storage().publish_file(tmp, _meta_path(state_dir))  # atomic: no torn meta


def _bucket_of(key_col, n_buckets: int):
    """Bucket of a fold key — MUST be one expression shared by every
    writer (init, compaction staging) and planner (touched-bucket set):
    two different hashes would route a key's base row and its delta
    winner to different buckets and partial compaction would keep both."""
    return F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")


def _auto_buckets(n_rows: int, rows_per_bucket: int = 200_000) -> int:
    """Default bucket count: ~200k keyed rows per bucket, power of two,
    floor 16.  At 100 TB size explicitly instead — the production rule is
    corpus_bytes / ~128 MB (the Hudi file-group target), because
    compaction rewrites whole buckets: bucket bytes, not bucket count,
    bound the cost of one touched key."""
    return 2 ** max(4, math.ceil(math.log2(max(1, n_rows / rows_per_bucket))))


def _list_buckets(bdir: str) -> list[int]:
    if not os.path.isdir(bdir):
        return []
    out = []
    for d in os.listdir(bdir):
        m = re.fullmatch(r"b=(\d+)", d)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _compact_dir(state_dir: str, tier: str) -> str:
    # dot-prefixed: invisible to Spark's file listing, so staging never
    # leaks into a concurrent read of v=base or the tier's delta dirs
    return os.path.join(state_dir, tier, ".compact")


def _apply_plan(state_dir: str, tier: str, plan: dict) -> None:
    """Execute a persisted compaction plan with atomic per-bucket (or
    whole-base, for the flat->bucketed migration) directory renames.
    Idempotent and resumable: every step checks on-disk state first, so
    a crash at ANY instant leaves either the old bucket, the staged new
    one plus the plan, or the completed swap — never nothing."""
    bdir = _base_dir(state_dir, tier)
    cdir = _compact_dir(state_dir, tier)
    nxt = os.path.join(cdir, "next")
    trash = os.path.join(cdir, "trash")
    if plan.get("mode") == "replace_all":
        # flat->bucketed migration: swap the whole base directory
        if os.path.isdir(nxt):
            if os.path.isdir(bdir):
                _storage().swap_dir(bdir, trash)
            _storage().swap_dir(nxt, bdir)
        elif not os.path.isdir(bdir):
            raise RuntimeError(
                f"compaction plan for {tier} is unrecoverable: neither "
                f"v=base nor staged replacement present under {cdir}"
            )
    else:
        for n in plan["swap"]:
            src = os.path.join(nxt, f"b={n}")
            dst = os.path.join(bdir, f"b={n}")
            if os.path.isdir(src):
                if os.path.isdir(dst):
                    _storage().remove_dir(dst)
                _storage().swap_dir(src, dst)
            elif not os.path.isdir(dst):
                raise RuntimeError(
                    f"compaction plan for {tier} bucket {n} is "
                    "unrecoverable: neither staged nor applied"
                )
        for n in plan["drop"]:
            dst = os.path.join(bdir, f"b={n}")
            if os.path.isdir(dst):
                _storage().remove_dir(dst)  # all the bucket's keys were deleted
    _storage().remove_dir(cdir)  # removes plan + staging remnants together


def _repair_tier(state_dir: str, tier: str) -> None:
    """Resume (plan present: staging was complete) or roll back (no
    plan: staging never finished, base untouched) an interrupted
    compaction.  Round 14 (ADVICE r13): runs ONLY under the maintenance
    lock — at stream start, and at the head of compact/rebucket — never
    on the pure read path.  A reader applying a plan concurrently with a
    live compactor raced it on the same staging dir (rmtree vs rename),
    and a reader's no-plan ROLLBACK could delete a live compactor's
    half-written staging, which the compactor would then certify with a
    plan.  Readers don't need repair for correctness anyway: a pending
    plan implies its deltas' touched manifests still exist (compaction
    deletes manifests only after every tier is applied), so the
    merge-on-read fold re-selects the same winners over an old, new, or
    mixed base — the fold's idempotence is the crash-consistency story,
    the repair is just hygiene that unblocks the next compaction."""
    cdir = _compact_dir(state_dir, tier)
    if not os.path.isdir(cdir):
        return
    plan_path = os.path.join(cdir, "plan.json")
    if os.path.isfile(plan_path):
        with open(plan_path) as f:
            _apply_plan(state_dir, tier, json.load(f))
    else:
        _storage().remove_dir(cdir)


def repair_state_dir(state_dir: str) -> None:
    """Finish pending plans and sweep un-planned staging in every tier,
    under the exclusive maintenance lock — the explicit recovery entry
    point (stream start calls it; so can an operator after a crash).
    This is where no-plan staging rollback lives now: under the lock it
    cannot race a live compactor's staging writes (ADVICE r13)."""
    with maintenance_lock(state_dir):
        for tier in _TIERS:
            _repair_tier(state_dir, tier)


def _require_delta_layout(state_dir: str, tier: str) -> None:
    """Refuse the round-11 full-tier layout (v=<key> version dirs) with a
    migration error instead of silently folding only v=base and serving
    stale state (ADVICE r12): the r11 layout's committed crawls live in
    versions this reader does not consult."""
    tdir = os.path.join(state_dir, tier)
    if not os.path.isdir(tdir):
        return
    legacy = [
        d for d in os.listdir(tdir)
        if d.startswith("v=") and d != "v=base"
    ]
    if legacy:
        raise ValueError(
            f"entity state {state_dir!r} {tier} tier contains pre-delta-"
            f"layout version dirs {sorted(legacy)[:3]} — reading them as "
            "base-only would silently drop committed crawls. Rebuild the "
            "state with init_state over the exported final records tier "
            "of the old run (state-export on the old layout's reader)."
        )


def read_base_tier(spark: SparkSession, state_dir: str, tier: str) -> DataFrame:
    """The ``v=base`` rows of a tier with the internal bucket column
    stripped — the one supported way to read base directly (the bucketed
    layout adds a ``b`` partition column a raw parquet read would leak
    into consumer schemas).

    Crash recovery vs concurrency (ADVICE r13): a PENDING PLAN (the
    compactor crashed after certifying its staging) is finished here
    under a NON-BLOCKING exclusive lock — if the lock is busy, the
    holder is a live maintenance op already doing that work, and racing
    it (the old unconditional repair-on-read) is exactly the
    rmtree/rename collision being fixed.  Un-planned staging is left
    alone: it is either a LIVE compactor mid-staging (deleting it would
    corrupt the plan it is about to certify) or junk a maintenance
    entry point sweeps later; base is untouched by staging either way,
    so the read is correct without acting."""
    _require_delta_layout(state_dir, tier)
    bdir = _base_dir(state_dir, tier)
    plan = os.path.join(_compact_dir(state_dir, tier), "plan.json")
    if os.path.isfile(plan) or not os.path.isdir(bdir):
        with try_maintenance_lock(state_dir) as got:
            if got:
                _repair_tier(state_dir, tier)
    if not os.path.isdir(bdir):
        raise FileNotFoundError(
            f"entity state {state_dir!r} has no {tier}/v=base — run "
            "init_state (CLI: stream-entity --init-records) before "
            "streaming or reading against this state dir (if a "
            "maintenance op is mid-run, its lock holder restores base)"
        )
    df = spark.read.parquet(bdir)
    return df.drop("b") if "b" in df.columns else df


def _write_base(df: DataFrame, tier: str, n_buckets: int, path: str) -> None:
    # repartition ON the bucket column before the partitioned write: a
    # bucket then lives entirely in one task, so each bucket dir gets ONE
    # file instead of one per upstream shuffle partition (first 30x run:
    # ~70 files/bucket, 67k files/tier — the read path was file-listing
    # bound).  Production note: cap file size with
    # spark.sql.files.maxRecordsPerFile if a single bucket outgrows one
    # task's write; the ~128 MB bucket sizing rule keeps that moot.
    keyed = _with_key(tier, df)
    (
        keyed.withColumn("b", _bucket_of(F.col("_k"), n_buckets))
        .drop("_k")
        .repartition(F.col("b"))
        .write.partitionBy("b")
        .mode("overwrite")
        .parquet(path)
    )


def init_state(
    spark: SparkSession,
    records: DataFrame,
    indexes: dict[str, DataFrame],
    state_dir: str,
    merge_order: dict[str, int] | None = None,
    buckets: int | None = None,
) -> None:
    """Full build over the initial records tier -> bucketed ``v=base``
    state.  ``buckets`` is the compaction granularity knob: partial
    compaction rewrites whole buckets, so size them to a bounded byte
    range (~128 MB at production scale — corpus_bytes/128MB buckets);
    default auto-sizes from the records row count."""
    out = run_build(spark, records, indexes, merge_order=merge_order)
    if buckets is None:
        buckets = _auto_buckets(records.count())
    for tier in _TIERS:
        # a REBUILD must clear a crashed compaction's staging+plan: a
        # stale plan under .compact would otherwise be applied onto the
        # fresh base at the next locked repair (old-corpus buckets
        # swapped into a new-corpus base)
        _storage().remove_dir(_compact_dir(state_dir, tier), missing_ok=True)
    _write_base(records, "records", buckets, _base_dir(state_dir, "records"))
    _write_base(out["idmap"], "idmap", buckets, _base_dir(state_dir, "idmap"))
    _write_base(out["merged"], "merged", buckets, _base_dir(state_dir, "merged"))
    _write_state_meta(state_dir, {"layout": "bucketed", "buckets": buckets})


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


def _stage_and_apply(
    state_dir: str,
    tier: str,
    keyed: DataFrame,
    n_buckets: int,
    plan: dict | None,
    touched_buckets: list[int] | None = None,
) -> None:
    """Stage ``keyed`` rows (carrying the fold key ``_k``) bucketed into
    the tier's ``.compact/next``, persist the swap plan (atomic
    tmp+rename — the plan's existence certifies the staging is complete),
    then apply it.  ``plan=None`` derives the per-bucket plan: staged
    buckets swap in; touched buckets with no staged rows (every key
    deleted) drop."""
    cdir = _compact_dir(state_dir, tier)
    _storage().remove_dir(cdir, missing_ok=True)  # stale un-planned staging
    nxt = os.path.join(cdir, "next")
    (
        keyed.withColumn("b", _bucket_of(F.col("_k"), n_buckets))
        .drop("_k")
        # one file per staged bucket (see _write_base); the exchange is
        # touched-bucket-sized, not corpus-sized
        .repartition(F.col("b"))
        .write.partitionBy("b")
        .parquet(nxt)
    )
    if plan is None:
        staged = _list_buckets(nxt)
        plan = {
            "mode": "buckets",
            "swap": staged,
            "drop": sorted(set(touched_buckets or ()) - set(staged)),
        }
    tmp = os.path.join(cdir, "plan.json.tmp")
    with open(tmp, "w") as f:
        json.dump(plan, f)
    _storage().publish_file(tmp, os.path.join(cdir, "plan.json"))
    _apply_plan(state_dir, tier, plan)


def rebucket_state(
    spark: SparkSession, state_dir: str, checkpoint: str, buckets: int
) -> None:
    """Rewrite the base under a NEW bucket count — the maintenance op
    that keeps the ~128 MB-per-bucket rule true as the corpus grows
    (state_stats' bucket_bytes_max is the trigger).  A deliberate
    O(corpus) rewrite, like init; each tier swaps in atomically behind
    the same staged plan as compaction, so a crash at any instant leaves
    either the old base or the new one.  Refuses while committed deltas
    are pending: their touched keys would land in old-bucket positions —
    run compact_entity_state first so the fold state is base-only (the
    meta flips once at the end; readers never see a mixed bucket map).
    Holds the exclusive maintenance lock: one maintenance op per state
    dir at a time (ADVICE r13)."""
    if buckets < 1:
        raise ValueError("rebucket_state: buckets must be >= 1")
    with maintenance_lock(state_dir):
        _rebucket_locked(spark, state_dir, checkpoint, buckets)


def _rebucket_locked(
    spark: SparkSession, state_dir: str, checkpoint: str, buckets: int
) -> None:
    ids = _committed_delta_ids(state_dir, checkpoint)
    if ids:
        raise ValueError(
            f"rebucket_state: {len(ids)} committed delta(s) pending — "
            "run compact_entity_state first (rebucketing folds nothing; "
            "a delta's touched keys must not straddle two bucket maps)"
        )
    # marker FIRST: a crash between tier swaps leaves a MIXED bucket map
    # on disk, which full folds read correctly but partial compaction and
    # bucket-pruned lookups must not trust.  The marker makes both
    # degrade safely — lookups fall back to a full fold, and the next
    # compact_entity_state takes its full-rewrite path, COMPLETING the
    # interrupted rebucket at the marker's target count (pinned by
    # test_rebucket_state_lifecycle) — until the clean meta is written.
    meta = read_state_meta(state_dir) or {}
    _write_state_meta(state_dir, {**meta, "layout": "bucketed",
                                  "rebucket_to": buckets})
    for tier in _TIERS:
        _require_delta_layout(state_dir, tier)
        _repair_tier(state_dir, tier)
        base = read_base_tier(spark, state_dir, tier)
        _stage_and_apply(
            state_dir, tier, _with_key(tier, base), buckets,
            {"mode": "replace_all"},
        )
    _write_state_meta(state_dir, {"layout": "bucketed", "buckets": buckets})


def _pending_rebucket(meta: dict | None) -> bool:
    return meta is not None and "rebucket_to" in meta


def state_stats(state_dir: str, checkpoint: str) -> dict:
    """Operator-facing state summary (no Spark jobs — pure directory
    walk): layout + bucket count, per-tier base bytes and bucket-size
    spread (max/mean — the skew signal for resizing buckets), committed
    delta fan-in (how many deltas every fold currently unions — the
    compact_every feedback), and uncommitted (retry-owned) delta dirs."""

    def du(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except FileNotFoundError:
                    pass
        return total

    meta = read_state_meta(state_dir)
    ids = _committed_delta_ids(state_dir, checkpoint)
    out: dict = {
        "layout": "bucketed" if meta else "flat",
        "buckets": (meta or {}).get("buckets"),
        "committed_delta_fanin": len(ids),
        "tiers": {},
    }
    committed_keys = {run_batch_key(checkpoint, i) for i in ids}
    for tier in _TIERS:
        bdir = _base_dir(state_dir, tier)
        sizes = [
            du(os.path.join(bdir, f"b={n}")) for n in _list_buckets(bdir)
        ]
        tdir = os.path.join(state_dir, tier)
        deltas = [
            d for d in (os.listdir(tdir) if os.path.isdir(tdir) else [])
            if d.startswith("d=")
        ]
        out["tiers"][tier] = {
            "base_bytes": du(bdir),
            "base_buckets_present": len(sizes),
            "bucket_bytes_max": max(sizes, default=0),
            "bucket_bytes_mean": int(sum(sizes) / len(sizes)) if sizes else 0,
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
    bucketed base exists to make cheap.  Reads ONLY the bucket dirs the
    keys hash to plus the committed deltas: O(|keys| buckets + deltas)
    instead of a corpus scan (the reference serves this from its record
    cache's keyed get, /root/reference pipeline/storage/cache/
    postgres.py:225 — a primary-key SELECT; partition-pruned bucket
    paths are the lakehouse restatement).  A flat (pre-bucketed) base
    falls back to the full fold with a filter.

    The bucket set is computed with the exact writer expression
    (_bucket_of) on a |keys|-row local relation — control plane, not a
    corpus job.

    Concurrency (ADVICE r13): this is the one read explicitly served
    OUT-OF-BAND while a stream/compactor may be live, so it holds the
    SHARED maintenance lock while it materializes — a compactor's
    per-bucket rmtree+rename window can therefore never be observed
    mid-listing — and it never applies pending plans itself (pure
    readers don't repair; see _repair_tier)."""
    if not keys:
        raise ValueError("lookup_state: keys must be non-empty")
    # finish any crashed compaction BEFORE taking the shared lock — a
    # BLOCKING exclusive acquire is safe here (this process holds no
    # lock yet): it waits out a live maintenance op, and if that op DIED
    # mid-apply while we waited (flock releases on process death), we
    # acquire and finish its plan — so the shared-locked read below can
    # never see a half-applied bucket hole.  (read_base_tier's own
    # try-lock cannot do this later: it would self-deadlock against the
    # shared lock this process holds by then.)
    with maintenance_lock(state_dir):
        for t in _TIERS:
            _repair_tier(state_dir, t)
    with maintenance_lock(state_dir, shared=True):
        meta = read_state_meta(state_dir)
        ids = _committed_delta_ids(state_dir, checkpoint)
        keys_df = spark.createDataFrame([(k,) for k in keys], "_lk string")
        if meta is None or _pending_rebucket(meta):
            # flat base, or a mixed bucket map from an interrupted
            # rebucket: bucket pruning would miss keys — full fold stays
            # correct
            folded = _fold_tier(spark, state_dir, checkpoint, tier, ids)
        else:
            nb = meta["buckets"]
            want = sorted(
                r["b"]
                for r in keys_df.select(
                    _bucket_of(F.col("_lk"), nb).alias("b")
                ).distinct().collect()
            )
            _require_delta_layout(state_dir, tier)
            bdir = _base_dir(state_dir, tier)
            have = [n for n in want if n in set(_list_buckets(bdir))]
            base_sub = (
                spark.read.parquet(*(os.path.join(bdir, f"b={n}") for n in have))
                if have
                else read_base_tier(spark, state_dir, tier).limit(0)
            )
            if ids:
                last, rows = _delta_last_and_rows(
                    spark, state_dir, checkpoint, tier, ids
                )
                folded = _fold_over(tier, base_sub, last, rows)
            else:
                folded = base_sub
        out = (
            _with_key(tier, folded)
            .join(F.broadcast(keys_df), F.col("_k") == F.col("_lk"), "left_semi")
            .drop("_k")
        )
        # materialize INSIDE the lock: the result is |keys|-sized, and a
        # lazily-returned plan would read the bucket dirs after release
        return out.localCheckpoint()


def compact_entity_state(
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    buckets: int | None = None,
) -> dict[str, int]:
    """Fold this checkpoint's committed deltas into ``v=base`` and
    delete them — the LSM compaction bounding read-side delta fan-in
    (without it every fold unions one more delta per crawl forever).

    Round 13 — cost ∝ delta, not corpus: the bucketed base is rewritten
    ONLY in the buckets holding touched keys (the Hudi-MOR file-group
    compaction shape).  Each tier's pass:

    1. plan: touched keys -> touched BUCKET set (delta-sized collect of
       at most n_buckets ints — control plane, not data plane);
    2. stage: fold (touched base buckets + delta winners) and write the
       result, re-partitioned by bucket, to the tier's dot-prefixed
       ``.compact/next`` staging dir (invisible to concurrent readers);
    3. persist a plan file (atomic tmp+rename) naming the buckets to
       swap in and the all-keys-deleted buckets to drop;
    4. apply: per-bucket atomic directory renames; a crash at any
       instant leaves either the old bucket, or the staged new one plus
       the plan — ``_repair_tier`` (run on every base read) resumes the
       plan or rolls back un-planned staging.  This closes the ADVICE
       r12 window where a whole-base ``mode("overwrite")`` could crash
       after deleting the only full copy.

    A flat (round-12) base takes the one-time migration path: full fold,
    staged as a complete bucketed base, swapped in whole behind a
    ``replace_all`` plan; ``buckets`` overrides the auto-sizing then.

    Kept, each load-bearing:
    - any UNCOMMITTED delta dir (a dead attempt's partial write): its
      batch may retry, and the retry's per-delta overwrite owns it;
    - nothing else needs keeping — once batch M commits, the pre-M fold
      states are unreachable (Structured Streaming never re-executes a
      committed batch, and batch M+1 folds base+deltas≤M, which the new
      base now IS).

    Refuses when ANOTHER checkpoint's deltas are present: folding
    rewrites the shared base, which would corrupt the other run's folds.
    (The full-tier r11 layout tolerated shared state dirs; the delta
    layout trades that for delta-sized writes — entity state dirs are
    per-pipeline, unlike the shared dedup/similarity indexes.)

    Crash ordering: bucket swaps are applied per tier behind persisted
    plans (above) and are idempotent to re-run with the deltas still
    present (re-folding an already-folded bucket re-selects the same
    winners); only after ALL tiers applied is each delta's touched
    manifest deleted BEFORE its row dirs (fold membership is gated on
    the manifest, so a half-deleted delta drops out instead of being
    misread as all-deletions); orphaned row dirs from a previous crash
    are swept.

    Holds the exclusive maintenance lock for the whole
    stage->plan->apply critical section (ADVICE r13: repair-on-read is
    gone, so the lock is what serializes two maintenance processes and
    excludes the shared-locked serving read during swaps).

    Returns {tier: number of delta directories removed}."""
    require_sole_lineage(state_dir, checkpoint)
    with maintenance_lock(state_dir):
        return _compact_locked(spark, state_dir, checkpoint, buckets)


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
    spark: SparkSession,
    state_dir: str,
    checkpoint: str,
    buckets: int | None,
) -> dict[str, int]:
    for tier in _TIERS:
        _require_delta_layout(state_dir, tier)
        _repair_tier(state_dir, tier)  # finish any interrupted compaction

    ids = _committed_delta_ids(state_dir, checkpoint)
    removed = {tier: 0 for tier in _TIERS}
    meta = read_state_meta(state_dir)
    if ids and (meta is None or _pending_rebucket(meta)):
        # full-rewrite path — two cases share it because both must not
        # trust the on-disk bucket map: (a) one-time migration of a flat
        # round-12 base; (b) a MIXED bucket map left by an interrupted
        # rebucket_state (partial compaction keyed on either map would
        # duplicate touched keys).  Full fold, staged bucketed,
        # whole-dir atomic swap per tier — which also COMPLETES the
        # interrupted rebucket at its target count.
        folded = {
            tier: _fold_tier(spark, state_dir, checkpoint, tier, ids)
            .localCheckpoint()
            for tier in _TIERS
        }
        if _pending_rebucket(meta):
            nb = meta["rebucket_to"]
        else:
            nb = buckets or _auto_buckets(folded["records"].count())
        for tier in _TIERS:
            _stage_and_apply(
                state_dir, tier, _with_key(tier, folded[tier]), nb,
                {"mode": "replace_all"},
            )
        _write_state_meta(state_dir, {"layout": "bucketed", "buckets": nb})
    elif ids:
        nb = meta["buckets"]
        for tier in _TIERS:
            last, rows = _delta_last_and_rows(
                spark, state_dir, checkpoint, tier, ids
            )
            # materialize the winner table: consumed three times below
            # (touched-bucket plan, survivor anti-join, winner join) and
            # its lineage holds every manifest read
            last = last.localCheckpoint()
            tb = sorted(
                r["tb"]
                for r in last.select(
                    _bucket_of(F.col("_wk"), nb).alias("tb")
                ).distinct().collect()
            )
            if not tb:
                continue  # no touched keys for this tier
            bdir = _base_dir(state_dir, tier)
            have = [n for n in tb if n in set(_list_buckets(bdir))]
            base_sub = (
                spark.read.parquet(*(os.path.join(bdir, f"b={n}") for n in have))
                if have
                else read_base_tier(spark, state_dir, tier).limit(0)
            )
            folded = _fold_over(tier, base_sub, last, rows)
            _stage_and_apply(
                state_dir, tier, _with_key(tier, folded), nb, None,
                touched_buckets=tb,
            )
    if ids:
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
    (CHANGES_SCHEMA json) drives one incremental build.

    ``last_harvest`` is the R1 watermark, threaded through to
    incremental_build exactly as in the batch path — feed rows at or
    before it are ignored, so a crawl file containing already-harvested
    stale rows cannot re-apply them (the batch/streaming twins share the
    watermark contract, not just the build body).

    ``compact_every``: fold committed deltas into base every N
    micro-batches, bounding the fold's read-side fan-in on long-running
    streams without an operator in the loop (every fold unions one more
    delta per crawl otherwise).  Runs INSIDE the sink before the batch
    commits, which is safe by the same commit-gating that covers
    retries: it folds only batches committed BEFORE this one, and a
    retry of this batch folds the new base plus nothing — exactly the
    state the first attempt saw."""
    # crash recovery at the process boundary (the realistic recovery
    # moment), under the exclusive lock
    repair_state_dir(state_dir)
    if compact_every:
        # fail FAST on a shared state dir instead of dying at batch N
        # inside the sink (ADVICE r13: --compact-every defaulting on
        # turned previously-working shared-dir runs into mid-stream
        # failures)
        require_sole_lineage(state_dir, checkpoint)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            # BEFORE the shared lock below: compaction takes the
            # exclusive lock and flock does not upgrade (no-deadlock
            # ordering, same as the index-stream sinks)
            compact_entity_state(spark, state_dir, checkpoint)
        # shared lock per micro-batch: an out-of-band maintenance op
        # (compact/rebucket/state-repair on OUR state dir) serializes at
        # batch boundaries instead of swapping buckets or deleting
        # committed delta dirs under the build's in-flight reads
        with maintenance_lock(state_dir, shared=True):
            entity_build_batch(
                spark, batch, state_dir, indexes,
                checkpoint=checkpoint, batch_id=batch_id,
                merge_order=merge_order,
                last_harvest=last_harvest,
            )

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
