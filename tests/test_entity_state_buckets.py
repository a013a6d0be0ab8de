"""Bucketed entity-state base + partial compaction.

Each state tier's ``v=base`` is the bucketed-base store of
streaming/index_util.py — one parquet file per hash bucket of the fold
key (``b<n>.<i>.parquet``, the Hudi-MOR file-group shape) plus its own
meta — so compact_entity_state rewrites ONLY the bucket files holding
touched keys: cost ∝ delta, not corpus.  Replacements are staged to a
dot-dir and applied by atomic per-file replace behind a persisted plan;
the store's repair resumes or rolls back an interrupted compaction.

Reference parity: the reference's update manager applies per-record row
updates transactionally (/root/reference pipeline/process/
update_manager.py:12-69); these tests pin the lakehouse restatement —
bounded-write compaction with no crash instant that loses state.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.streaming.entity_stream import (
    compact_entity_state,
    init_state,
    latest_state,
    lookup_state,
    read_base_tier,
    read_state_meta,
    rebucket_state,
    repair_state_dir,
    state_stats,
    stream_entity_builds,
)
from data_pipeline_spark.streaming.index_util import rebucket_base, run_batch_key

_TIERS = ("records", "idmap", "merged")


def _uri(src, k):
    return f"https://fixture.test/{src}/{k}"


def _doc(src, k, label, link=None):
    d = {"id": _uri(src, k), "type": "Person", "_label": label}
    if link:
        d["equivalent"] = [{"id": link, "type": "Person"}]
    return json.dumps(d)


def _records(spark, n=10):
    rows = [
        ("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
         _doc("srcA", k, f"A{k}"))
        for k in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "source string, identifier string, rectype string, "
        "record_time string, change string, data string",
    )


def _indexes(spark):
    e = spark.createDataFrame
    return {
        "name_index": e([], "source string, name_clean string, target_identifier string, rectype string"),
        "uri_index": e([], "source string, ext_uri string, target_identifier string, rectype string"),
        "same_as": e([], "uri_a string, uri_b string"),
        "different_from": e([], "uri_a string, uri_b string"),
    }


def _feed(tmp_path, crawls):
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir(exist_ok=True)
    for i, crawl in enumerate(crawls):
        p = feed_dir / f"crawl{i}.jsonl"
        with open(p, "w") as f:
            for r in crawl:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1000 + i, 1000 + i))  # pin micro-batch order
    return str(feed_dir)


_BUCKET_FILE = re.compile(r"b(\d+)\.\d+\.parquet")


def _bucket_files(state_dir, tier):
    """{bucket file name: mtime_ns} under <tier>/v=base."""
    bdir = os.path.join(state_dir, tier, "v=base")
    return {
        f: os.stat(os.path.join(bdir, f)).st_mtime_ns
        for f in os.listdir(bdir)
        if _BUCKET_FILE.fullmatch(f)
    }


def _bucket(f):
    return int(_BUCKET_FILE.fullmatch(f).group(1))


def _buckets_of(spark, keys, n):
    return {
        r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "k string")
        .select(F.pmod(F.xxhash64("k"), F.lit(n)).alias("b")).collect()
    }


def _rows(spark, state_dir, ckpt):
    out = latest_state(spark, state_dir, ckpt)
    return {t: sorted(map(tuple, out[t].collect())) for t in _TIERS}


_UPDATE3_DELETE5 = [[
    {"seq": 1, "end_time": "2026-02-01T10:00:00", "change": "update",
     "object_uri": _uri("srcA", 3), "payload": _doc("srcA", 3, "A3-v2")},
    {"seq": 2, "end_time": "2026-02-01T10:00:00", "change": "delete",
     "object_uri": _uri("srcA", 5), "payload": None},
]]


def test_bucketed_base_partial_compaction(spark, tmp_path):
    """init writes a bucketed base + meta per tier; compaction rewrites
    ONLY the bucket files holding touched keys — every untouched bucket
    file is untouched (same name, same mtime), which is the whole claim:
    compaction cost scales with the delta, not the corpus."""
    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 12), _indexes(spark), state_dir,
               buckets=16)

    assert read_state_meta(state_dir) == {
        "records": {"buckets": 16, "key": ["get_json_object(data, '$.id')"]},
        "idmap": {"buckets": 16, "key": ["yuid"]},
        "merged": {"buckets": 16, "key": ["yuid"]},
    }
    for tier in _TIERS:
        base = read_base_tier(spark, state_dir, tier)
        assert "_b" not in base.columns  # internal col never leaks
        assert _bucket_files(state_dir, tier)

    ckpt = str(tmp_path / "ckpt")
    q = stream_entity_builds(spark, _feed(tmp_path, _UPDATE3_DELETE5),
                             state_dir, ckpt, _indexes(spark))
    q.awaitTermination(180)

    want = _rows(spark, state_dir, ckpt)
    before = _bucket_files(state_dir, "records")
    removed = compact_entity_state(spark, state_dir, ckpt)
    assert removed == {"records": 1, "idmap": 1, "merged": 1}
    after = _bucket_files(state_dir, "records")

    # the touched records keys are exactly srcA/3 (update) and srcA/5
    # (delete): only their buckets' files may change
    tb = _buckets_of(spark, [_uri("srcA", 3), _uri("srcA", 5)], 16)
    changed = {f for f in before.keys() | after.keys()
               if before.get(f) != after.get(f)}
    assert changed and {_bucket(f) for f in changed} <= tb
    untouched = {f for f in before if _bucket(f) not in tb}
    assert untouched and all(after[f] == before[f] for f in untouched)

    # folded read identical post-compaction; deltas gone
    assert _rows(spark, state_dir, ckpt) == want
    labels = {json.loads(r["data"])["_label"]
              for r in latest_state(spark, state_dir, ckpt)["merged"].collect()}
    assert "A3-v2" in labels and "A5" not in labels
    assert not any(
        d.startswith("d=") for d in os.listdir(os.path.join(state_dir, "merged"))
    )
    # idempotent: second compaction is a no-op
    assert compact_entity_state(spark, state_dir, ckpt) == {
        "records": 0, "idmap": 0, "merged": 0
    }


def test_lookup_state_reads_only_target_buckets(spark, tmp_path):
    """lookup_state is the serving read the bucketed base exists for:
    O(|keys| buckets + deltas), never a corpus scan.  Proof by poison —
    every NON-target bucket file is overwritten with garbage bytes
    before the lookup; a read that listed or opened them would throw, so
    success + correct rows means only the target buckets were touched.
    Also covers the delta overlay (an updated key's lookup returns the
    delta winner, a deleted key returns nothing)."""
    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 12), _indexes(spark), state_dir,
               buckets=32)
    ckpt = str(tmp_path / "ckpt")
    q = stream_entity_builds(spark, _feed(tmp_path, _UPDATE3_DELETE5),
                             state_dir, ckpt, _indexes(spark))
    q.awaitTermination(180)

    targets = [_uri("srcA", 3), _uri("srcA", 5), _uri("srcA", 7)]
    want_buckets = _buckets_of(spark, targets, 32)
    bdir = os.path.join(state_dir, "records", "v=base")
    poisoned = 0
    for f in _bucket_files(state_dir, "records"):
        if _bucket(f) not in want_buckets:
            with open(os.path.join(bdir, f), "wb") as fh:
                fh.write(b"not parquet at all")
            poisoned += 1
    assert poisoned > 0  # the poison actually covers non-target buckets

    got = {
        json.loads(r["data"])["_label"]
        for r in lookup_state(spark, state_dir, ckpt, targets).collect()
    }
    assert got == {"A3-v2", "A7"}  # delta winner in, deleted key out


def test_compaction_crash_repair_paths(spark, tmp_path):
    """Every crash instant of a compaction is recoverable: un-planned
    staging rolls back (base untouched); a persisted plan resumes
    (staged files replace in, a no-file swap entry prunes its bucket) —
    no state exists where neither a complete bucket nor its plan is on
    disk; a plan whose staged file and target are both gone raises."""
    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 8), _indexes(spark), state_dir,
               buckets=8)
    merged_dir = os.path.join(state_dir, "merged")
    bdir = os.path.join(merged_dir, "v=base")
    want = sorted(
        (r["yuid"], r["data"])
        for r in read_base_tier(spark, state_dir, "merged").collect()
    )

    # (a) staging crashed BEFORE the plan was persisted: base untouched,
    # reads stay correct WITHOUT touching the staging (a reader must
    # never roll back what may be a LIVE compactor's half-written
    # staging — sweeping it is the maintenance entry points' job)
    cdir = os.path.join(merged_dir, ".compact")
    os.makedirs(os.path.join(cdir, "next", "_b=0"))
    got = sorted(
        (r["yuid"], r["data"])
        for r in read_base_tier(spark, state_dir, "merged").collect()
    )
    assert got == want
    assert os.path.isdir(cdir)  # the read left the staging alone
    repair_state_dir(state_dir)
    assert not os.path.isdir(cdir)  # the locked repair rolled it back

    # (b) crash mid-apply WITH a plan: one bucket's replacement staged
    # and its old file already gone, plus a no-file entry for another
    # bucket (all its keys deleted); the read's repair completes both
    files = sorted(_bucket_files(state_dir, "merged"))
    assert len({_bucket(f) for f in files}) >= 2
    swap_f = files[0]
    drop_n = next(_bucket(f) for f in files if _bucket(f) != _bucket(swap_f))
    swap_n = _bucket(swap_f)
    os.makedirs(os.path.join(cdir, "next", f"_b={swap_n}"))
    shutil.copy(os.path.join(bdir, swap_f),
                os.path.join(cdir, "next", f"_b={swap_n}", "part-0.parquet"))
    os.remove(os.path.join(bdir, swap_f))
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump({"mode": "buckets", "base": "v=base", "fold": [], "swap": {
            str(swap_n): [["part-0.parquet", f"b{swap_n}.0.parquet"]],
            str(drop_n): [],
        }}, f)

    kept_rows = sorted(
        (r["yuid"], r["data"])
        for r in read_base_tier(spark, state_dir, "merged").collect()
    )
    assert not os.path.isdir(cdir)  # plan applied + cleaned
    left = {_bucket(f) for f in _bucket_files(state_dir, "merged")}
    assert swap_n in left and drop_n not in left
    # swapped bucket's rows survive, dropped bucket's rows are gone
    assert set(kept_rows) < set(want)

    # (c) an unrecoverable plan (neither staged nor applied) raises
    # loudly instead of serving a hole
    os.makedirs(os.path.join(cdir, "next"))
    os.remove(os.path.join(bdir, f"b{swap_n}.0.parquet"))
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump({"mode": "buckets", "base": "v=base", "fold": [], "swap": {
            str(swap_n): [["part-0.parquet", f"b{swap_n}.0.parquet"]],
        }}, f)
    with pytest.raises(RuntimeError, match="unrecoverable"):
        read_base_tier(spark, state_dir, "merged")


def test_rebucket_state_lifecycle(spark, tmp_path):
    """rebucket_state keeps the bucket-bytes rule maintainable as the
    corpus grows: each tier's base and meta swap together, so a rebucket
    interrupted between tiers leaves tiers at DIFFERENT counts that are
    each self-consistent — lookups prune by each tier's own meta, and a
    compaction folds a pending delta at each tier's count."""
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    init_state(spark, _records(spark, 10), _indexes(spark), state_dir,
               buckets=4)
    before = _rows(spark, state_dir, ckpt)

    rebucket_state(spark, state_dir, 32)
    assert {m["buckets"] for m in read_state_meta(state_dir).values()} == {32}
    assert state_stats(state_dir, ckpt)["tiers"]["merged"]["bucket_files"] > 4
    assert _rows(spark, state_dir, ckpt) == before
    key = _uri("srcA", 3)
    assert len(lookup_state(spark, state_dir, ckpt, [key]).collect()) == 1

    feed = _feed(tmp_path, [[
        {"seq": 1, "end_time": "2026-02-01T10:00:00", "change": "update",
         "object_uri": key, "payload": _doc("srcA", 3, "A3-v2")},
    ]])
    q = stream_entity_builds(spark, feed, state_dir, ckpt, _indexes(spark))
    q.awaitTermination(180)
    want = _rows(spark, state_dir, ckpt)

    # a rebucket that died after its first tier: records at 64, the rest
    # still at 32
    rebucket_base(spark, os.path.join(state_dir, "records", "v=base"), 64)
    meta = read_state_meta(state_dir)
    assert (meta["records"]["buckets"], meta["merged"]["buckets"]) == (64, 32)
    got = lookup_state(spark, state_dir, ckpt, [key]).collect()
    assert json.loads(got[0]["data"])["_label"] == "A3-v2"
    assert _rows(spark, state_dir, ckpt) == want
    assert compact_entity_state(spark, state_dir, ckpt) == {
        "records": 1, "idmap": 1, "merged": 1
    }
    assert _rows(spark, state_dir, ckpt) == want
    got = lookup_state(spark, state_dir, ckpt, [key]).collect()
    assert json.loads(got[0]["data"])["_label"] == "A3-v2"


def test_rebucket_with_pending_delta_then_compact_matches_serial(spark, tmp_path):
    """A rebucket needs no compaction first: with a committed delta
    pending, rebucket then compact must give exactly the rows of the
    serial run (compact at the old count, no rebucket) — every fold
    recomputes buckets from the tier's own meta."""
    serial = str(tmp_path / "serial")
    init_state(spark, _records(spark, 12), _indexes(spark), serial, buckets=4)
    ckpt = str(tmp_path / "ckpt")
    q = stream_entity_builds(spark, _feed(tmp_path, _UPDATE3_DELETE5),
                             serial, ckpt, _indexes(spark))
    q.awaitTermination(180)
    rebucketed = str(tmp_path / "rebucketed")
    shutil.copytree(serial, rebucketed)

    compact_entity_state(spark, serial, ckpt)
    want = _rows(spark, serial, ckpt)

    rebucket_state(spark, rebucketed, 16)
    assert state_stats(rebucketed, ckpt)["committed_delta_fanin"] == 1
    assert _rows(spark, rebucketed, ckpt) == want  # fold before compaction
    assert compact_entity_state(spark, rebucketed, ckpt) == {
        "records": 1, "idmap": 1, "merged": 1
    }
    assert {m["buckets"] for m in read_state_meta(rebucketed).values()} == {16}
    assert _rows(spark, rebucketed, ckpt) == want


def test_compaction_deleting_every_key_keeps_tier_readable(spark, tmp_path):
    """A compaction whose delta deletes EVERY key of a tier must leave
    that tier readable: a plan that empties the last bucket keeps one
    schema-bearing empty bucket file (an empty init does the same), so
    the next fold, lookup and compaction still work."""
    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 3), _indexes(spark), state_dir,
               buckets=4)
    yuids = [r["yuid"] for r in
             read_base_tier(spark, state_dir, "merged").collect()]
    assert len(yuids) == 3
    # one committed delta: zero rows in every tier, all merged yuids
    # touched — every merged key deleted
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(ckpt, "commits"))
    open(os.path.join(ckpt, "commits", "0"), "w").close()
    key = run_batch_key(ckpt, 0)
    for tier in _TIERS:
        read_base_tier(spark, state_dir, tier).limit(0).write.parquet(
            os.path.join(state_dir, tier, f"d={key}")
        )
    spark.createDataFrame(
        [("merged", y) for y in yuids], "tier string, k string"
    ).write.parquet(os.path.join(state_dir, "touched", f"d={key}"))

    assert compact_entity_state(spark, state_dir, ckpt)["merged"] == 1
    base = read_base_tier(spark, state_dir, "merged")
    assert base.count() == 0 and "yuid" in base.columns
    assert latest_state(spark, state_dir, ckpt)["merged"].count() == 0
    assert lookup_state(spark, state_dir, ckpt, yuids, tier="merged").count() == 0
    assert latest_state(spark, state_dir, ckpt)["records"].count() == 3


def test_pre_store_layouts_refused(spark, tmp_path):
    """A state dir this engine does not read gets ONE actionable error
    ("rebuild with init_state") from every entry point instead of a
    silent misread — there is no migration code: the round-12 flat
    base, the round-13 ``b=<n>`` bucket dirs with a state-root meta,
    round-11 ``v=<key>`` version dirs, and an older engine's whole-base
    swap that crashed between its two renames (old base in the trash,
    no ``v=base``, a plan without a ``base`` key) — refused before any
    repair could apply that plan and delete the old base."""
    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 8), _indexes(spark), state_dir,
               buckets=8)
    ckpt = str(tmp_path / "ckpt")
    pristine = str(tmp_path / "pristine")
    shutil.copytree(state_dir, pristine)

    def refused():
        for call in (
            lambda: latest_state(spark, state_dir, ckpt),
            lambda: compact_entity_state(spark, state_dir, ckpt),
            lambda: lookup_state(spark, state_dir, ckpt, [_uri("srcA", 1)]),
            lambda: rebucket_state(spark, state_dir, 4),
            lambda: repair_state_dir(state_dir),
            lambda: stream_entity_builds(
                spark, _feed(tmp_path, [[]]), state_dir, ckpt, _indexes(spark)),
        ):
            with pytest.raises(ValueError, match="init_state"):
                call()

    # round 12: flat v=base, no meta anywhere
    for tier in _TIERS:
        flat = read_base_tier(spark, state_dir, tier).localCheckpoint()
        bdir = os.path.join(state_dir, tier, "v=base")
        shutil.rmtree(bdir)
        flat.write.parquet(bdir)
    refused()

    # round 13: v=base/b=<n>/ bucket dirs, bucket meta at the state root
    shutil.rmtree(state_dir)
    for tier in _TIERS:
        flat = read_base_tier(spark, pristine, tier).localCheckpoint()
        flat.withColumn("b", F.lit(0)).write.partitionBy("b").parquet(
            os.path.join(state_dir, tier, "v=base"))
    with open(os.path.join(state_dir, "_META.json"), "w") as f:
        json.dump({"layout": "bucketed", "buckets": 8}, f)
    refused()

    # round 11: versioned dirs other than v=base
    shutil.rmtree(state_dir)
    shutil.copytree(pristine, state_dir)
    os.makedirs(os.path.join(state_dir, "merged", "v=deadbeef-b0"))
    refused()

    # an older engine's replace_all plan, crashed between its renames
    shutil.rmtree(state_dir)
    shutil.copytree(pristine, state_dir)
    cdir = os.path.join(state_dir, "merged", ".compact")
    os.makedirs(cdir)
    shutil.copytree(os.path.join(state_dir, "merged", "v=base"),
                    os.path.join(cdir, "next"))
    os.rename(os.path.join(state_dir, "merged", "v=base"),
              os.path.join(cdir, "trash"))
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump({"mode": "replace_all"}, f)
    refused()
    with pytest.raises(ValueError, match="init_state"):
        read_base_tier(spark, state_dir, "merged")
    assert os.path.isdir(os.path.join(cdir, "trash"))  # old base kept
    assert not os.path.isdir(os.path.join(state_dir, "merged", "v=base"))


def test_lookup_repairs_a_plan_that_appears_after_its_first_probe(
    spark, tmp_path, monkeypatch
):
    """The serving lease re-probes for a plan once the shared lock is
    held: a rebucket that died between its two renames AFTER the lease's
    first, lock-free probe (simulated by hiding the plan from that
    probe) is finished before the lookup reads, instead of the lookup
    failing on a missing ``v=base``."""
    from data_pipeline_spark.streaming import index_util

    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 8), _indexes(spark), state_dir,
               buckets=8)
    ckpt = str(tmp_path / "ckpt")
    keys = [_uri("srcA", 1), _uri("srcA", 2)]
    want = sorted(tuple(r) for r in lookup_state(spark, state_dir, ckpt,
                                                 keys).collect())
    assert len(want) == 2

    # the store's replace_all crash residue: staged base, old base in the
    # trash, persisted plan, no v=base
    tdir = os.path.join(state_dir, "records")
    cdir = os.path.join(tdir, ".compact")
    os.makedirs(cdir)
    shutil.copytree(os.path.join(tdir, "v=base"), os.path.join(cdir, "next"))
    os.rename(os.path.join(tdir, "v=base"), os.path.join(cdir, "trash"))
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump({"mode": "replace_all", "base": "v=base", "fold": []}, f)

    real = index_util._pending_plans
    calls = []

    def first_probe_misses(root):
        calls.append(root)
        return False if len(calls) == 1 else real(root)

    monkeypatch.setattr(index_util, "_pending_plans", first_probe_misses)
    got = sorted(tuple(r) for r in lookup_state(spark, state_dir, ckpt,
                                                keys).collect())
    assert got == want
    assert len(calls) > 1
    assert not os.path.isdir(cdir)
    assert os.path.isdir(os.path.join(tdir, "v=base"))


def test_maintenance_lock_semantics(tmp_path):
    """The flock contract the round-14 concurrency fix rests on:
    exclusive excludes everything, shared coexists with shared, and the
    non-blocking try reports a busy lock instead of deadlocking (flock
    treats two fds in one process as independent owners, so this also
    drills the self-deadlock shape try_maintenance_lock exists for)."""
    import fcntl

    from data_pipeline_spark.streaming.locks import (
        maintenance_lock,
        try_maintenance_lock,
    )

    root = str(tmp_path / "state")
    with maintenance_lock(root):  # exclusive held
        with try_maintenance_lock(root) as got:
            assert got is False  # busy: a second exclusive must not win
    with try_maintenance_lock(root) as got:
        assert got is True  # free again after release

    # shared + shared coexist; shared + exclusive-try conflicts
    import os as _os
    lock_path = _os.path.join(root, ".maintenance.lock")
    with maintenance_lock(root, shared=True):
        fd = _os.open(lock_path, _os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_SH | fcntl.LOCK_NB)  # ok
        finally:
            _os.close(fd)
        with try_maintenance_lock(root) as got:
            assert got is False


def test_stream_fails_fast_on_foreign_deltas(spark, tmp_path):
    """A state dir holding ANOTHER checkpoint's deltas must be rejected
    AT STREAM START when compaction is scheduled — not at batch N inside
    the sink (ADVICE r13: --compact-every defaulting on turned
    previously-working shared-dir runs into mid-stream deaths)."""
    state_dir = str(tmp_path / "state")
    init_state(spark, _records(spark, 4), _indexes(spark), state_dir,
               buckets=4)
    # plant a delta owned by a DIFFERENT checkpoint lineage
    foreign = os.path.join(state_dir, "records", "d=deadbeef" + "0" * 24 + "-b0")
    os.makedirs(foreign)
    feed = _feed(tmp_path, [[{
        "seq": 1, "end_time": "2026-01-02T00:00:00", "change": "update",
        "object_uri": _uri("srcA", 0),
        "payload": _doc("srcA", 0, "A0-v2"),
    }]])
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="other"):
        stream_entity_builds(
            spark, feed, state_dir, ckpt, _indexes(spark), compact_every=2
        )
    # without compaction scheduled the same dir streams fine
    q = stream_entity_builds(spark, feed, state_dir, ckpt, _indexes(spark))
    q.awaitTermination(120)
