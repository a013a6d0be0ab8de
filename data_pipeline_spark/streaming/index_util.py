"""The batch-keyed index layout of the streaming twins (dedup_stream.py,
similarity_stream.py, refresh_stream.py, sketch_stream.py) and the ONE
bucketed-base store under both the shared indexes and entity state
(entity_stream.py).

The streams persist their index tiers as ``<index_dir>/<tier>/batch=<key>``
partition directories and fold each micro-batch with per-partition
overwrite — the idempotency contract under Structured Streaming's
at-least-once delivery.  The layout rules live here ONCE because they are
load-bearing for retry correctness in every stream: a format change
applied to one stream but not the others would break that stream's retry
exclusion while the others' tests stay green.

Bucketed base: a corpus-proportional tier (an index tier's
``batch=base``, an entity-state tier's ``v=base``) is ONE PARQUET FILE
PER HASH BUCKET (``b<n>.<i>.parquet``) plus a Spark-invisible
``_META.json`` holding the bucket count and key.  Readers see nothing:
the files are ordinary parquet leaves, so no partition column leaks.
Every rule of the store is defined once, below:

- one bucket expression (``bucket_of``) and one default sizing
  (``auto_buckets``);
- one partial rewrite: the keys a fold touches are hashed to buckets,
  ONLY those bucket files are read and rewritten — appended rows for an
  index fold, the merge-on-read winner fold for entity state — staged
  under the tier's dot-prefixed ``.compact`` dir;
- one staged ``plan.json`` (published atomically; its existence
  certifies the staging is whole), applied by atomic per-file replace —
  no delete-then-write window exists; a touched bucket whose keys were
  all deleted is a swap entry with no files, and a plan that would empty
  the base keeps one schema-bearing empty bucket file;
- one repair (resume a persisted plan, roll back un-planned staging),
  one rebucket (whole-base ``replace_all`` plan; the meta lives inside
  the base, so it swaps WITH it and no mixed bucket map can exist) and
  one stats walk.

Compaction cost therefore scales with the delta, never the tier: the
in-place row updates of the reference (its update manager rewrites cache
and idmap rows, its index loader the LMDB reconcile indexes) restated as
file-group rewrites.  Sketch tiers (regs/cells/bins) stay unbucketed on
purpose: they are BOUNDED-size relations (registers x sources, depth x
width cells), so their whole-tier fold is sketch-sized.

Crash recovery: an index plan records the folded batch keys, and their
directories are deleted INSIDE the plan application — so a crash after
the plan persists but before the deletes is finished by repair instead
of leaving batch dirs that the next compaction would union into base
AGAIN (double-folded shingle rows inflate Jaccard on later probes).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .locks import maintenance_lock
from .storage import provider as _storage


def tier_dir(index_dir: str, tier: str, key: str) -> str:
    """Batch-keyed partition directory of an index tier.  Keys are always
    non-numeric strings ('base', '<32-hex>-b0') so partition-type
    inference is stable across any batch mix."""
    return os.path.join(index_dir, tier, f"batch={key}")


def require_batch_layout(df: DataFrame, index_dir: str, tier: str) -> DataFrame:
    """Refuse to stream against a pre-batch-keyed (flat) index with one
    actionable error instead of an unresolved-column AnalysisException on
    every micro-batch: an index written by the old flat ``append`` layout
    has no ``batch`` partition column, so the retry-exclusion filter can
    never work against it."""
    if "batch" not in df.columns:
        raise ValueError(
            f"index tier {os.path.join(index_dir, tier)!r} uses the flat "
            "(pre-batch-keyed) layout — no 'batch' partition column. "
            "Streaming folds are batch-keyed for retry idempotency; "
            "rebuild the index with index_corpus() (which writes "
            "batch=base) before streaming against it."
        )
    return df


def run_batch_key(checkpoint: str, batch_id: int) -> str:
    """Partition key for one micro-batch, scoped to the stream's
    checkpoint: ``<full 32-hex md5 of the checkpoint path>-b<id>``.
    The FULL digest, not a prefix: the key is a directory name (length
    is free) and a truncated-digest collision between two distinct
    checkpoint paths would recreate exactly the silent cross-run
    batch-0 overwrite the scoping exists to prevent.

    Micro-batch ids are only unique WITHIN one checkpoint lineage — a
    stream restarted with a FRESH checkpoint (a common remediation after
    checkpoint corruption) restarts at batch 0 and, keyed on the bare id,
    would silently OVERWRITE the previous run's ``batch=b0`` fold and
    matches: data loss, strictly worse than the duplication the keying
    exists to prevent.  Scoping the key to the checkpoint path keeps
    genuine retries and checkpoint resumes (same lineage, same key)
    idempotent, while a fresh-checkpoint run folds alongside the old
    run's partitions instead of over them."""
    h = hashlib.md5(os.path.abspath(checkpoint).encode("utf-8")).hexdigest()
    return f"{h}-b{batch_id}"


def committed_batch_ids(checkpoint: str) -> set[int]:
    """Micro-batch ids with a COMMIT entry in the checkpoint's commit
    log.  A committed batch is durably done — Structured Streaming
    resumes AFTER the last commit, never re-executing it — so its index
    partition can be compacted without breaking the retry exclusion."""
    commits = os.path.join(checkpoint, "commits")
    if not os.path.isdir(commits):
        return set()
    return {int(f) for f in os.listdir(commits) if f.isdigit()}




# ---------------------------------------------------------------------------
# the bucketed-base store
# ---------------------------------------------------------------------------

_META_NAME = "_META.json"  # leading underscore: invisible to Spark reads
_BUCKET_FILE = re.compile(r"b(\d+)\.(\d+)\.parquet")


def bucket_of(cols: list[Column], n_buckets: int) -> Column:
    """Bucket of a row — THE one expression every writer (init, staging)
    and planner (touched buckets, lookup pruning) uses: two different
    hashes would route a key's base rows and its new rows to different
    buckets, and a partial rewrite would touch the wrong file."""
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")


def _key_cols(key: list[str]) -> list[Column]:
    """A base's bucket key as its meta records it: SQL expressions over
    the row — plain column names for the index tiers, the canonical-uri
    JSON path for entity records."""
    return [F.expr(k) for k in key]


def auto_buckets(n_rows: int, rows_per_bucket: int = 1_000_000) -> int:
    """Default bucket count: ``rows_per_bucket`` rows per bucket, power
    of two, floor 8.  At 100 TB size explicitly instead — the production
    rule is tier_bytes / ~128 MB (the Hudi file-group target), because a
    partial rewrite replaces whole bucket files: bucket BYTES, not
    bucket count, bound the cost of one touched key."""
    return 2 ** max(3, math.ceil(math.log2(max(1, n_rows / rows_per_bucket))))


def read_base_meta(base: str) -> dict | None:
    """{"buckets": N, "key": [exprs]} of a bucketed base, None for a
    meta-less (flat) one."""
    try:
        with open(os.path.join(base, _META_NAME)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def read_tier_meta(index_dir: str, tier: str) -> dict | None:
    """The bucket meta of an index tier's ``batch=base``; None for a flat
    (pre-round-14 or sketch) tier, which compacts by whole-tier rewrite
    until rebuilt with index_corpus."""
    return read_base_meta(tier_dir(index_dir, tier, "base"))


def _compact_dir(tpath: str) -> str:
    # dot-prefixed, inside the tier dir: invisible to Spark's listing of
    # the base and of the tier's batch/delta dirs
    return os.path.join(tpath, ".compact")


def has_pending_plan(tpath: str) -> bool:
    """Lock-free: does this tier hold a persisted compaction/rebucket
    plan?  plan.json is published atomically (tmp + publish_file), so
    the probe sees it fully or not at all."""
    return os.path.isfile(os.path.join(_compact_dir(tpath), "plan.json"))


def read_pending_plan(tpath: str) -> dict | None:
    """The persisted plan of a tier, None when none is pending — for
    callers that must inspect a plan's format before any repair applies
    it."""
    try:
        with open(os.path.join(_compact_dir(tpath), "plan.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _move_bucket_files(src_root: str, dst: str) -> None:
    """Move a partitionBy('_b') staging output into a flat bucket-file
    base dir: ``_b=<n>/part-*.parquet`` -> ``b<n>.<i>.parquet``."""
    for d in sorted(os.listdir(src_root)):
        m = re.fullmatch(r"_b=(\d+)", d)
        if not m:
            continue
        for i, f in enumerate(_parquet_files(os.path.join(src_root, d))):
            _storage().publish_file(
                os.path.join(src_root, d, f),
                os.path.join(dst, f"b{m.group(1)}.{i}.parquet"),
            )


def _parquet_files(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _stage_bucketed(df: DataFrame, key: list[str], n_buckets: int,
                    path: str) -> None:
    # repartition ON the bucket column before the partitioned write: a
    # bucket then lives entirely in one task, so each bucket gets ONE
    # file (the read path is file-listing bound otherwise — ~70 files
    # per bucket at 30x before this).  Production note: cap file size
    # with spark.sql.files.maxRecordsPerFile if a bucket outgrows one
    # task's write; the ~128 MB bucket sizing rule keeps that moot, and
    # the plan format carries per-bucket file LISTS so a split write
    # still applies correctly.
    (
        df.withColumn("_b", bucket_of(_key_cols(key), n_buckets))
        .repartition(F.col("_b"))
        .write.partitionBy("_b")
        .parquet(path)
    )


def _seed_empty_bucket(df: DataFrame, dst: str,
                       name: str = "b0.0.parquet") -> None:
    """``partitionBy`` of 0 rows emits no parquet leaves, so a base
    written (or rewritten) from an empty input would hold only its meta
    and every later ``spark.read.parquet(base)`` dies with
    UNABLE_TO_INFER_SCHEMA — publish one schema-bearing empty file as
    ``dst/name`` instead.  The staging tempdir is dot-prefixed beside
    ``dst`` (never ``batch=<x>``-shaped), so a crash mid-seed cannot
    leave a directory a partition listing would pick up."""
    tmp = os.path.join(os.path.dirname(dst), ".empty_seed")
    _storage().remove_dir(tmp, missing_ok=True)
    df.limit(0).coalesce(1).write.parquet(tmp)
    os.makedirs(dst, exist_ok=True)
    _storage().publish_file(
        os.path.join(tmp, _parquet_files(tmp)[0]), os.path.join(dst, name)
    )
    _storage().remove_dir(tmp)


def _finish_base(df: DataFrame, key: list[str], buckets: int, stage: str,
                 dst: str) -> None:
    """Turn a ``_stage_bucketed`` output into a complete base at ``dst``:
    bucket files, the empty-input seed, and the meta."""
    os.makedirs(dst)
    _move_bucket_files(stage, dst)
    if not any(_BUCKET_FILE.fullmatch(f) for f in os.listdir(dst)):
        _seed_empty_bucket(df, dst)
    with open(os.path.join(dst, _META_NAME), "w") as f:
        json.dump({"buckets": buckets, "key": key}, f)
    _storage().remove_dir(stage)


def write_bucketed_base(df: DataFrame, base: str, key: list[str],
                        buckets: int) -> None:
    """Init write of a base: one parquet file per bucket of ``key`` plus
    the meta.  Overwrite semantics: init is the rebuild path, not the
    crash-safe path (there is nothing to lose but the init itself).  A
    rebuild also clears a crashed compaction's staging and plan, which
    the next repair would otherwise apply onto the FRESH base (old-corpus
    bucket files replaced into a new-corpus base)."""
    tpath = os.path.dirname(base)
    _storage().remove_dir(_compact_dir(tpath), missing_ok=True)
    stage = os.path.join(tpath, ".init")
    _storage().remove_dir(stage, missing_ok=True)
    _stage_bucketed(df, key, buckets, stage)
    _storage().remove_dir(base, missing_ok=True)
    _finish_base(df, key, buckets, stage, base)


def write_base(
    df: DataFrame,
    index_dir: str,
    tier: str,
    key_cols: list[str],
    buckets: int | None = None,
) -> None:
    """Write an index tier's ``batch=base`` as a bucketed base
    (write_bucketed_base).

    Auto-sizing (``buckets=None``) materializes the input with a
    localCheckpoint before counting — without it the full lineage (for
    dedup: the corpus text scan + 8-gram explode) executes once for the
    count and again for the write.  At production scale pass ``buckets``
    explicitly (tier_bytes / ~128 MB) and skip the materialization."""
    if buckets is None:
        df = df.localCheckpoint()
        buckets = auto_buckets(df.count())
    write_bucketed_base(df, tier_dir(index_dir, tier, "base"), key_cols,
                        buckets)


def _bucket_files(base: str, n: int) -> list[str]:
    if not os.path.isdir(base):
        return []
    return sorted(
        f for f in os.listdir(base)
        if (m := _BUCKET_FILE.fullmatch(f)) and int(m.group(1)) == n
    )


def touched_buckets(keys: DataFrame, n_buckets: int) -> list[int]:
    """Buckets of a frame of key VALUES (one column per key expression,
    in key order): a distinct collect of at most n_buckets ints over a
    key-sized frame — control plane, not a corpus job."""
    named = keys.toDF(*(f"_k{i}" for i in range(len(keys.columns))))
    b = bucket_of([F.col(c) for c in named.columns], n_buckets)
    return sorted(r[0] for r in named.select(b).distinct().collect())


def read_buckets(spark: SparkSession, base: str, buckets: list[int]) -> DataFrame:
    """The rows of ``buckets`` only — no other bucket's file is listed
    or opened; an empty frame with the base's schema when none of them
    holds a file."""
    files = [os.path.join(base, f) for n in buckets for f in _bucket_files(base, n)]
    if files:
        return spark.read.parquet(*files)
    any_file = next(f for f in sorted(os.listdir(base)) if _BUCKET_FILE.fullmatch(f))
    return spark.read.parquet(os.path.join(base, any_file)).limit(0)


def _stage_partial(
    spark: SparkSession,
    base: str,
    touched: DataFrame,
    merge: Callable[[DataFrame], DataFrame],
    fold: list[str],
) -> dict | None:
    """Stage a touched-bucket rewrite and return its plan (None when
    nothing is touched and nothing folds).  ``touched`` holds the key
    values the rewrite concerns (touched_buckets); only those buckets'
    files are read, and ``merge(old)`` turns their rows into the new
    rows — an append for an index fold, the winner/survivor fold for
    entity state.  The plan records, per touched bucket, the exact
    staged-file -> bucket-file replacements (no files: every key of the
    bucket was deleted), so application — and crash recovery — is a
    list of idempotent atomic replaces."""
    meta = read_base_meta(base)
    key, n = meta["key"], meta["buckets"]
    tb = touched_buckets(touched, n)
    if not tb and not fold:
        return None
    cdir = _compact_dir(os.path.dirname(base))
    _storage().remove_dir(cdir, missing_ok=True)  # stale un-planned staging
    nxt = os.path.join(cdir, "next")
    staged = merge(read_buckets(spark, base, tb))
    _stage_bucketed(staged, key, n, nxt)
    swap = {
        str(b): [
            [f, f"b{b}.{i}.parquet"]
            for i, f in enumerate(_parquet_files(os.path.join(nxt, f"_b={b}")))
        ]
        for b in tb
    }
    kept = [
        f for f in os.listdir(base)
        if (m := _BUCKET_FILE.fullmatch(f)) and m.group(1) not in swap
    ]
    if not kept and not any(swap.values()):
        # the plan deletes every remaining key: keep the base readable
        # with one schema-bearing empty bucket file, as an empty init does
        _seed_empty_bucket(staged, os.path.join(nxt, "_b=0"), "seed.parquet")
        swap["0"] = [["seed.parquet", "b0.0.parquet"]]
    return {"mode": "buckets", "base": os.path.basename(base), "swap": swap,
            "fold": fold}


def _stage_replace_all(df: DataFrame, key: list[str], buckets: int,
                       base: str, fold: list[str]) -> dict:
    """Stage a complete bucketed base (bucket files + meta) under the
    tier's ``.compact/next`` and return its ``replace_all`` plan.  The
    caller persists the plan (_persist_plan) once staging has returned,
    then applies it."""
    cdir = _compact_dir(os.path.dirname(base))
    _stage_bucketed(df, key, buckets, os.path.join(cdir, "stage"))
    _finish_base(df, key, buckets, os.path.join(cdir, "stage"),
                 os.path.join(cdir, "next"))
    return {"mode": "replace_all", "base": os.path.basename(base), "fold": fold}


def _persist_plan(cdir: str, plan: dict) -> None:
    """Atomic tmp+rename: the plan file's existence certifies the
    staging under ``cdir`` is complete."""
    tmp = os.path.join(cdir, "plan.json.tmp")
    with open(tmp, "w") as f:
        json.dump(plan, f)
    _storage().publish_file(tmp, os.path.join(cdir, "plan.json"))


def compact_base(
    spark: SparkSession,
    base: str,
    touched: DataFrame,
    merge: Callable[[DataFrame], DataFrame],
    fold: list[str],
) -> None:
    """Stage, persist and apply one partial rewrite of a bucketed base
    (_stage_partial).  The caller holds the exclusive maintenance
    lease."""
    plan = _stage_partial(spark, base, touched, merge, fold)
    if plan is not None:
        _persist_plan(_compact_dir(os.path.dirname(base)), plan)
        _apply_plan(os.path.dirname(base))


def rebucket_base(spark: SparkSession, base: str, buckets: int) -> None:
    """Rewrite a bucketed base under a new bucket count behind a
    ``replace_all`` plan: a crash at any instant leaves the old base or
    the new one, finished by repair.  The meta lives inside the base and
    swaps WITH it, and folds recompute buckets from the meta at fold
    time, so pending batches or deltas never straddle two bucket maps.
    The caller holds the exclusive maintenance lease."""
    meta = read_base_meta(base)
    cdir = _compact_dir(os.path.dirname(base))
    _storage().remove_dir(cdir, missing_ok=True)
    plan = _stage_replace_all(spark.read.parquet(base), meta["key"], buckets,
                              base, fold=[])
    _persist_plan(cdir, plan)
    _apply_plan(os.path.dirname(base))


def _apply_plan(tpath: str) -> None:
    """Finish a staged plan: swap the staged base in (whole-dir rename)
    or the staged bucket files (atomic per-file replace), delete the
    folded batch directories the plan records, clean up.  Idempotent —
    every step checks disk state, so a crash at any instant re-runs to
    the same end state."""
    cdir = _compact_dir(tpath)
    with open(os.path.join(cdir, "plan.json")) as f:
        plan = json.load(f)
    nxt = os.path.join(cdir, "next")
    base = os.path.join(tpath, plan.get("base", "batch=base"))
    # pre-round-14 plan format ({"swap": "base"}): a crashed old-process
    # plan applied by new code — whole-base swap, no fold list.  The old
    # code deleted folded batch dirs OUTSIDE the plan, so replaying its
    # plan cannot know which dirs it folded: warn that they may survive
    # (and would double-fold at the next compaction — verify row counts
    # or rebuild the index if this upgrade-edge crash actually happened).
    legacy = "mode" not in plan and plan.get("swap") == "base"
    if legacy:
        import warnings

        warnings.warn(
            f"applying a pre-upgrade index compaction plan at {cdir!r}: "
            "its folded batch directories are not recorded in the plan "
            "and may survive — verify tier row counts (a later "
            "compaction would union them into base again) or rebuild "
            "the index with index_corpus",
            stacklevel=2,
        )
    mode = plan.get("mode") or ("replace_all" if legacy else None)
    if mode == "replace_all":
        if os.path.isdir(nxt):
            if os.path.isdir(base):
                _storage().swap_dir(base, os.path.join(cdir, "trash"))
            _storage().swap_dir(nxt, base)
        elif not os.path.isdir(base):
            raise RuntimeError(
                f"compaction plan at {cdir!r} is unrecoverable: neither "
                "the base nor a staged replacement exists"
            )
    elif mode == "buckets":
        for n, pairs in plan["swap"].items():
            srcdir = os.path.join(nxt, f"_b={n}")
            keep = set()
            for src, tgt in pairs:
                keep.add(tgt)
                s = os.path.join(srcdir, src)
                t = os.path.join(base, tgt)
                if os.path.isfile(s):
                    _storage().publish_file(s, t)  # atomic overwrite
                elif not os.path.isfile(t):
                    raise RuntimeError(
                        f"compaction plan for bucket {n} at {cdir!r} is "
                        "unrecoverable: staged file and target both "
                        f"missing ({src} -> {tgt})"
                    )
            # prune the previous generation's files of this bucket that
            # the plan does not name (a bucket that shrank, or whose keys
            # were all deleted): AFTER the replaces, so every instant
            # keeps at least one complete copy
            for f in _bucket_files(base, int(n)):
                if f not in keep:
                    _storage().remove_file(os.path.join(base, f))
    else:
        raise RuntimeError(f"unknown compaction plan mode in {cdir!r}")
    for k in plan.get("fold", ()):
        # inside the plan application: recovery finishes these deletes
        # too, so a folded batch can never be union'd into base a second
        # time by the next compaction
        _storage().remove_dir(os.path.join(tpath, f"batch={k}"), missing_ok=True)
    _storage().remove_dir(cdir)


def repair_tier(tpath: str) -> None:
    """Resume (plan present: staging completed) or roll back (no plan:
    base untouched) an interrupted compaction/rebucket of one tier.  The
    caller holds the exclusive maintenance lease: a concurrent LIVE
    compactor must never race a second repairer on the same staging dir
    (rmtree vs rename), and a no-plan rollback must never delete staging
    a live compactor is still writing."""
    cdir = _compact_dir(tpath)
    if not os.path.isdir(cdir):
        return
    if has_pending_plan(tpath):
        _apply_plan(tpath)
    else:
        _storage().remove_dir(cdir)


def repair_tiers(root: str) -> None:
    """repair_tier over every tier dir of a store root (an index dir or
    an entity state dir); the caller holds the exclusive lease."""
    if not os.path.isdir(root):
        return
    for tier in sorted(os.listdir(root)):
        if os.path.isdir(os.path.join(root, tier)):
            repair_tier(os.path.join(root, tier))


def repair_index_dir(root: str) -> None:
    """Finish or roll back interrupted maintenance in every tier of a
    store root, under the exclusive maintenance lease — the recovery
    entry point streams run once at start (the realistic recovery moment
    for a process that died mid-compaction) and operators run after a
    crash (CLI state-repair)."""
    with maintenance_lock(root):
        repair_tiers(root)


def du(path: str) -> int:
    """Bytes under ``path``; files that vanish mid-walk count zero (the
    stats walks are lock-free by design — live-stream feedback tools)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def base_stats(base: str) -> dict:
    """One base's summary (no Spark jobs — a directory walk): layout,
    bucket count and key, bytes, and the bucket-file spread (max/mean —
    the rebucket trigger against the ~128 MB rule)."""
    meta = read_base_meta(base)
    sizes = []
    for f in (os.listdir(base) if os.path.isdir(base) else []):
        if _BUCKET_FILE.fullmatch(f):
            try:
                sizes.append(os.path.getsize(os.path.join(base, f)))
            except FileNotFoundError:
                pass  # a concurrent swap/prune removed a listed file
    return {
        "layout": "bucketed" if meta else "flat",
        "buckets": (meta or {}).get("buckets"),
        "key": (meta or {}).get("key"),
        "base_bytes": du(base),
        "bucket_files": len(sizes),
        "bucket_bytes_max": max(sizes, default=0),
        "bucket_bytes_mean": int(sum(sizes) / len(sizes)) if sizes else 0,
    }


# ---------------------------------------------------------------------------
# index maintenance over the store
# ---------------------------------------------------------------------------


def compact_index(
    spark: SparkSession,
    index_dir: str,
    checkpoint: str,
) -> dict[str, int]:
    """Fold COMMITTED micro-batch partitions into ``batch=base``.

    The batch-keyed layout is correct but unbounded: one partition
    directory per micro-batch forever — a small-files problem at
    production cadence.  This folds, per tier, the partitions of THIS
    checkpoint's committed batches into base and deletes them.

    Two paths:
    - BUCKETED base (meta present — written by index_corpus): the
      store's partial rewrite (compact_base) appends the folding rows to
      exactly the bucket files they hash to.  Cost scales with the
      folding batches (a small crawl touches few buckets), never the
      index.
    - FLAT base: the whole tier is folded and swapped in behind a
      ``replace_all`` plan — kept for the bounded-size sketch tiers
      (regs/cells/bins: a full fold is sketch-sized by construction) and
      for pre-round-14 indexes (rebuild those with index_corpus).

    Safety rules, each load-bearing:
    - only batches in the checkpoint's COMMIT log fold (an in-flight or
      failed batch may still be retried; its partition must survive so
      the retry's per-partition overwrite and the probe's own-batch
      exclusion keep working);
    - only THIS checkpoint's keys fold (another run's stream may be
      live against the same index — its keys are not ours to move);
    - the plan file is persisted (atomic tmp+rename) only AFTER staging
      completes — its existence certifies the staged files are whole;
    - the plan records the folded batch keys and their directories are
      deleted INSIDE the plan application (deleting them after apply,
      outside the plan, left a crash window in which the next compaction
      unioned the already-folded batches into base again — duplicated
      shingle rows, inflated Jaccard);
    - probe results are unchanged by construction: the same rows under
      ``batch=base``, and match_batch's retry exclusion filters on
      ``batch != <live key>``, which ``base`` never is.

    Concurrency: holds the EXCLUSIVE maintenance lock; the streams take
    the SHARED lock around each micro-batch, so an out-of-band
    compact_index serializes against live probes/folds at micro-batch
    boundaries — a probe can never see both a swapped-in fold and its
    not-yet-deleted batch dir (double rows would inflate Jaccard).

    Returns {tier: number of batch directories folded}."""
    with maintenance_lock(index_dir):
        return _compact_index_locked(spark, index_dir, checkpoint)


def _compact_index_locked(
    spark: SparkSession, index_dir: str, checkpoint: str
) -> dict[str, int]:
    repair_tiers(index_dir)
    h = hashlib.md5(os.path.abspath(checkpoint).encode("utf-8")).hexdigest()
    foldable = {f"{h}-b{i}" for i in committed_batch_ids(checkpoint)}
    out: dict[str, int] = {}
    for tier in sorted(os.listdir(index_dir)):
        tpath = os.path.join(index_dir, tier)
        if not os.path.isdir(tpath):
            continue
        keys = [
            m.group(1)
            for d in sorted(os.listdir(tpath))
            if (m := re.fullmatch(r"batch=(.+)", d))
        ]
        fold = [k for k in keys if k in foldable]
        out[tier] = len(fold)
        if not fold:
            continue
        new_rows = None
        for k in fold:
            part = spark.read.parquet(tier_dir(index_dir, tier, k))
            new_rows = part if new_rows is None else new_rows.unionByName(part)
        base = tier_dir(index_dir, tier, "base")
        meta = read_base_meta(base)
        if meta is not None:
            compact_base(
                spark, base, new_rows.select(*_key_cols(meta["key"])),
                new_rows.unionByName, fold,
            )
            continue
        # flat whole-tier fold (sketch tiers; pre-round-14 bases)
        cdir = _compact_dir(tpath)
        _storage().remove_dir(cdir, missing_ok=True)
        if "base" in keys:
            new_rows = new_rows.unionByName(spark.read.parquet(base))
        new_rows.write.parquet(os.path.join(cdir, "next"))
        _persist_plan(cdir, {"mode": "replace_all", "base": "batch=base",
                             "fold": fold})
        _apply_plan(tpath)
    return out


def rebucket_index(
    spark: SparkSession,
    index_dir: str,
    buckets: int,
    tiers: list[str] | None = None,
) -> None:
    """Rewrite bucketed base tiers under a NEW bucket count — the
    maintenance op that keeps the ~128 MB-per-bucket-file rule true as
    the index grows (``index_stats``' bucket_bytes_max is the trigger).
    Deliberately O(tier), like init; each tier is one rebucket_base
    (pending ``batch=<key>`` partitions are left alone: they re-hash
    from the new meta at fold time).  Holds the exclusive maintenance
    lock.  Flat (meta-less) tiers are skipped — rebuild those with
    index_corpus."""
    if buckets < 1:
        raise ValueError("rebucket_index: buckets must be >= 1")
    with maintenance_lock(index_dir):
        repair_tiers(index_dir)
        todo = tiers if tiers is not None else sorted(os.listdir(index_dir))
        for tier in todo:
            if not os.path.isdir(os.path.join(index_dir, tier)):
                if tiers is not None:  # explicitly asked: fail loudly,
                    # not a silent no-op printed as success (a typo'd
                    # --tier must not leave oversized buckets in place)
                    raise ValueError(
                        f"rebucket_index: tier {tier!r} does not exist "
                        f"under {index_dir!r}"
                    )
                continue
            if read_tier_meta(index_dir, tier) is None:
                if tiers is not None:  # explicitly asked: fail loudly
                    raise ValueError(
                        f"rebucket_index: tier {tier!r} has no bucketed "
                        "base — rebuild it with index_corpus"
                    )
                continue
            rebucket_base(spark, tier_dir(index_dir, tier, "base"), buckets)


def index_stats(index_dir: str, checkpoint: str | None = None) -> dict:
    """Operator-facing index summary (no Spark jobs — a directory
    walk): per tier, the store's base_stats plus batch-partition fan-in
    (how many ``batch=<key>`` dirs every probe currently lists — the
    compact_every feedback); with ``checkpoint``, how many of those are
    committed (foldable) vs retry-owned."""
    if not os.path.isdir(index_dir):
        return {"tiers": {}}
    committed_keys: set[str] | None = None
    if checkpoint is not None:
        committed_keys = {
            run_batch_key(checkpoint, i)
            for i in committed_batch_ids(checkpoint)
        }
    out: dict = {"tiers": {}}
    for tier in sorted(os.listdir(index_dir)):
        tpath = os.path.join(index_dir, tier)
        if not os.path.isdir(tpath):
            continue
        batches = [
            m.group(1)
            for d in os.listdir(tpath)
            if (m := re.fullmatch(r"batch=(.+)", d)) and m.group(1) != "base"
        ]
        row = base_stats(tier_dir(index_dir, tier, "base"))
        row["batch_dirs"] = len(batches)
        row["batch_bytes"] = sum(
            du(os.path.join(tpath, f"batch={k}")) for k in batches
        )
        if committed_keys is not None:
            row["committed_batch_dirs"] = sum(
                1 for k in batches if k in committed_keys
            )
        out["tiers"][tier] = row
    return out


# ---------------------------------------------------------------------------
# stream-sink lifecycle
# ---------------------------------------------------------------------------


@contextmanager
def shared_index_lease(root: str):
    """Repair-then-shared acquisition for serving a store root (every
    stream sink's micro-batch, and the entity serving read).

    A stream-start repair is not enough in the documented multi-process
    deployment: an OUT-OF-BAND compactor can die mid-apply (plan
    persisted, some bucket files swapped, folded batch dirs not yet
    deleted) WHILE a stream is live — the OS releases the dead process's
    flock, so the stream's next micro-batch would acquire the SHARED
    lock and probe an index where the folded rows exist both in the new
    bucket files and in the surviving ``batch=<key>`` dirs
    (double-counted shingle rows inflate Jaccard denominators — silently
    wrong matches).  So take the EXCLUSIVE lock first and finish any
    pending plan (blocking — if a live compactor holds the lock we wait
    it out; if it died mid-apply while we waited, we acquire and
    complete its plan), then serve under the SHARED lock.

    The exclusive acquisition is gated on a LOCK-FREE probe for a
    persisted plan — without it, every micro-batch's blocking
    ``flock(LOCK_EX)`` would wait out every OTHER stream's shared-held
    micro-batch on the same root, serializing streams that otherwise
    overlap freely.  The probe is sound because a pending PLAN is the
    only read hazard: staging without a plan means either a LIVE
    compactor mid-staging (its exclusive lock excludes our shared one
    regardless) or a dead pre-plan compactor (base untouched — reads
    are correct past garbage staging, which the next maintenance entry
    sweeps).

    The probe is repeated once the shared lock is held, where a plan
    can only belong to a DEAD maintenance op (a live one holds the
    exclusive lock): one that died after the first probe — or in the
    gap between repair and the shared acquisition — is repaired and the
    lease retaken, so the body never sees a half-applied plan or a base
    missing between the two renames of a whole-base swap."""
    while True:
        if _pending_plans(root):
            repair_index_dir(root)
        with maintenance_lock(root, shared=True):
            if not _pending_plans(root):
                yield
                return


def _pending_plans(root: str) -> bool:
    if not os.path.isdir(root):
        return False
    return any(
        has_pending_plan(os.path.join(root, tier)) for tier in os.listdir(root)
    )


def stream_sink(
    spark: SparkSession,
    root: str,
    checkpoint: str,
    serve: Callable[[DataFrame, int], None],
    compact_every: int | None,
    compact: Callable[[SparkSession, str, str], object] = compact_index,
) -> Callable[[DataFrame, int], None]:
    """The ONE lifecycle of a stream sink over a store root (an index
    dir, or an entity state dir with ``compact=compact_entity_state``);
    returns the ``foreachBatch`` function.

    1. repair now, at stream start — finish or roll back the maintenance
       a previous process died in;
    2. every ``compact_every`` micro-batches, ``compact(spark, root,
       checkpoint)`` BEFORE the shared lease: compaction takes the
       exclusive lease and flock does not upgrade.  It folds only
       batches committed BEFORE this one, so a retry of this batch sees
       exactly the state the first attempt saw;
    3. ``serve(batch, batch_id)`` under shared_index_lease, so an
       out-of-band maintenance op serializes at batch boundaries instead
       of swapping files under the batch's in-flight reads."""
    repair_index_dir(root)

    def sink(batch: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(spark, root, checkpoint)
        with shared_index_lease(root):
            serve(batch, batch_id)

    return sink
