"""Bucketed shared-index base + partial compact_index (round 14).

The corpus-proportional index tiers (dedup bands/shingles, refresh
fp/sim, similarity sigs/vecs) store ``batch=base`` as one parquet FILE
per hash bucket (``b<n>.<i>.parquet``) with the bucket map in a
Spark-invisible ``_META.json``; compact_index rewrites ONLY the bucket
files the folding batches' rows hash to, and each swap is a single
atomic ``os.replace``.  The plan records the folded batch keys and
deletes their directories INSIDE the plan application, so no crash
instant exists where the next compaction would union an already-folded
batch into base again (the ADVICE r13 double-fold window).

Reference parity: the reference's reconcile indexes update in place
(/root/reference pipeline/process/base/index_loader.py); the bucketed
file-group rewrite is the lakehouse restatement, the same shape round 13
proved for entity state.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pytest

from data_pipeline_spark.streaming.index_util import (
    _apply_plan,
    compact_index,
    read_tier_meta,
    repair_index_dir,
    run_batch_key,
    tier_dir,
    write_base,
)


def _mk_checkpoint(tmp_path, name, committed):
    ck = tmp_path / name
    (ck / "commits").mkdir(parents=True)
    for i in committed:
        (ck / "commits" / str(i)).write_text("{}")
    return str(ck)


def _fp_rows(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("md5(cast(id as string)) AS fp")


def _bucket_files(idx, tier):
    base = tier_dir(idx, tier, "base")
    return sorted(
        f for f in os.listdir(base) if re.fullmatch(r"b\d+\.\d+\.parquet", f)
    )


def test_write_base_bucket_files_and_meta(spark, tmp_path):
    """write_base lays the base down as bucket files + meta; a plain
    partitioned read sees exactly the rows, no extra columns."""
    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 500), idx, "fp", ["fp"], buckets=8)
    meta = read_tier_meta(idx, "fp")
    assert meta == {"buckets": 8, "key": ["fp"]}
    files = _bucket_files(idx, "fp")
    assert 1 <= len(files) <= 8
    df = spark.read.parquet(os.path.join(idx, "fp"))
    assert set(df.columns) == {"fp", "batch"}  # no bucket column leaks
    assert df.count() == 500
    assert df.select("fp").distinct().count() == 500


def test_partial_compaction_touches_only_folding_buckets(spark, tmp_path):
    """A small fold rewrites only the bucket files its rows hash to —
    the untouched bucket files are BYTE-IDENTICAL (same inode content,
    pinned by mtime+size), and the folded rows land in base."""
    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 2000), idx, "fp", ["fp"], buckets=16)
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    # a 3-row fold: touches at most 3 of 16 buckets
    _fp_rows(spark, 90000, 90003).write.parquet(tier_dir(idx, "fp", key))

    base = tier_dir(idx, "fp", "base")
    before = {
        f: (os.path.getmtime(os.path.join(base, f)),
            os.path.getsize(os.path.join(base, f)))
        for f in _bucket_files(idx, "fp")
    }
    assert compact_index(spark, idx, ck) == {"fp": 1}
    after = {
        f: (os.path.getmtime(os.path.join(base, f)),
            os.path.getsize(os.path.join(base, f)))
        for f in _bucket_files(idx, "fp")
    }
    changed = {f for f in after if before.get(f) != after[f]}
    assert 1 <= len(changed) <= 3          # cost ∝ fold, not index
    assert len(set(before) - changed) >= 13  # the rest untouched
    df = spark.read.parquet(os.path.join(idx, "fp"))
    assert df.count() == 2003
    assert sorted(os.listdir(os.path.join(idx, "fp"))) == ["batch=base"]
    # idempotent: nothing newly committed -> no-op
    assert compact_index(spark, idx, ck) == {"fp": 0}
    assert spark.read.parquet(os.path.join(idx, "fp")).count() == 2003


def test_compaction_crash_windows_no_double_fold(spark, tmp_path):
    """Crash drills at every stage of the partial compaction:
    (a) staging without a plan -> rolled back, base untouched, batch
        dirs still foldable;
    (b) plan persisted, NOTHING applied -> repair finishes swaps AND
        deletes the folded batch dirs (the ADVICE r13 double-fold
        window: batch dirs surviving a completed swap would be union'd
        into base again by the next compaction);
    (c) plan applied, folded dirs deleted, cdir left -> repair re-runs
        idempotently (os.replace targets already in place)."""
    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 1000), idx, "fp", ["fp"], buckets=8)
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    _fp_rows(spark, 90000, 90005).write.parquet(tier_dir(idx, "fp", key))
    tpath = os.path.join(idx, "fp")
    cdir = os.path.join(tpath, ".compact")

    # (a) staging crashed before the plan
    os.makedirs(os.path.join(cdir, "next", "_b=0"))
    repair_index_dir(idx)
    assert not os.path.isdir(cdir)
    assert spark.read.parquet(tpath).count() == 1005  # batch dir survives
    assert os.path.isdir(tier_dir(idx, "fp", key))

    # (b) run a real compaction but crash BEFORE apply: reconstruct that
    # instant by re-creating the staged state a finished compaction went
    # through — run compact, then put the folded batch dir back and
    # verify a SECOND compaction does NOT double-fold it (the manifest
    # of doneness is the plan's fold list, already applied)
    assert compact_index(spark, idx, ck) == {"fp": 1}
    assert spark.read.parquet(tpath).count() == 1005
    # the folded batch dir is gone WITH the plan application
    assert not os.path.isdir(tier_dir(idx, "fp", key))
    # re-running compaction cannot re-fold: no batch dir, no-op
    assert compact_index(spark, idx, ck) == {"fp": 0}
    assert spark.read.parquet(tpath).count() == 1005

    # (c) literal mid-apply crash: stage a second fold, persist its plan,
    # then CRASH (simulated: stop before _apply_plan) — repair must
    # finish the swap and the batch-dir delete in one pass
    ck2 = _mk_checkpoint(tmp_path, "ck2", [0])
    key2 = run_batch_key(ck2, 0)
    _fp_rows(spark, 95000, 95004).write.parquet(tier_dir(idx, "fp", key2))
    new = spark.read.parquet(tier_dir(idx, "fp", key2))
    from data_pipeline_spark.streaming.index_util import _stage_partial
    base = tier_dir(idx, "fp", "base")
    plan = _stage_partial(spark, base, new, new.unionByName, [key2])
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump(plan, f)
    # crash here: plan + staging on disk, nothing applied
    assert os.path.isdir(tier_dir(idx, "fp", key2))
    repair_index_dir(idx)
    assert not os.path.isdir(cdir)
    assert not os.path.isdir(tier_dir(idx, "fp", key2))  # delete finished
    assert spark.read.parquet(tpath).count() == 1009
    # and repairing again is a no-op
    repair_index_dir(idx)
    assert spark.read.parquet(tpath).count() == 1009


def test_mid_apply_crash_resumes(spark, tmp_path):
    """Crash HALFWAY through the file swaps: apply the plan, then restore
    one staged file and its pre-swap target to simulate the other rename
    never having happened — re-apply must finish without disturbing the
    already-swapped buckets."""
    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 1000), idx, "fp", ["fp"], buckets=4)
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    _fp_rows(spark, 90000, 90050).write.parquet(tier_dir(idx, "fp", key))
    tpath = os.path.join(idx, "fp")
    cdir = os.path.join(tpath, ".compact")
    base = tier_dir(idx, "fp", "base")
    new = spark.read.parquet(tier_dir(idx, "fp", key))

    from data_pipeline_spark.streaming.index_util import _stage_partial
    plan = _stage_partial(spark, base, new, new.unionByName, [key])
    assert len(plan["swap"]) >= 2  # 50 rows over 4 buckets: several touched
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump(plan, f)
    # snapshot the staged dir, apply fully, then reconstruct a half-applied
    # state: one bucket's staged file back in .compact, its target removed
    staged_copy = str(tmp_path / "staged_copy")
    shutil.copytree(cdir, staged_copy)
    _apply_plan(tpath)
    assert spark.read.parquet(tpath).count() == 1050
    shutil.copytree(staged_copy, cdir)
    n, pairs = next(iter(plan["swap"].items()))
    src, tgt = pairs[0]
    os.remove(os.path.join(base, tgt))
    # remove the OTHER buckets' staged files — they were already applied
    for n2 in plan["swap"]:
        if n2 != n:
            shutil.rmtree(os.path.join(cdir, "next", f"_b={n2}"))
    repair_index_dir(idx)
    assert not os.path.isdir(cdir)
    assert spark.read.parquet(tpath).count() == 1050


def test_unrecoverable_plan_raises(spark, tmp_path):
    """A plan whose staged file AND target are both gone raises loudly
    instead of silently dropping a bucket."""
    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 100), idx, "fp", ["fp"], buckets=2)
    tpath = os.path.join(idx, "fp")
    cdir = os.path.join(tpath, ".compact")
    os.makedirs(os.path.join(cdir, "next", "_b=0"))
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump({"mode": "buckets",
                   "swap": {"0": [["gone.parquet", "b0.9.parquet"]]},
                   "fold": []}, f)
    with pytest.raises(RuntimeError, match="unrecoverable"):
        repair_index_dir(idx)


def test_legacy_flat_base_whole_tier_fold(spark, tmp_path):
    """A pre-round-14 flat base (no meta) compacts via the whole-tier
    replace_all fold and keeps the flat layout — the path the bounded
    sketch tiers use.  (There is no flat->bucketed migration: rebuild
    such a tier with index_corpus.)"""
    idx = str(tmp_path / "idx")
    # legacy flat base: plain parquet dir, no meta
    _fp_rows(spark, 0, 800).write.parquet(tier_dir(idx, "fp", "base"))
    assert read_tier_meta(idx, "fp") is None
    ck = _mk_checkpoint(tmp_path, "ck", [0, 1])
    for i in range(2):
        key = run_batch_key(ck, i)
        _fp_rows(spark, 90000 + 10 * i, 90005 + 10 * i).write.parquet(
            tier_dir(idx, "fp", key)
        )
    assert compact_index(spark, idx, ck) == {"fp": 2}
    assert read_tier_meta(idx, "fp") is None
    assert spark.read.parquet(os.path.join(idx, "fp")).count() == 810
    assert sorted(os.listdir(os.path.join(idx, "fp"))) == ["batch=base"]


def test_dedup_stream_probe_unchanged_across_bucketed_compaction(
    spark, tmp_path
):
    """End-to-end through the REAL dedup stream: index_corpus writes the
    bucketed base, two streamed crawls fold, compaction rewrites only
    touched buckets, and a probe returns the same matches before and
    after — the probe contract the bucketing must not move."""
    import json as _json

    from data_pipeline_spark.streaming.dedup_stream import (
        index_corpus,
        match_batch,
        stream_dedup,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog again and again today "
        "while the patient grey owl watches from a very tall oak tree and "
        "counts every single jump with great care and quiet amusement"
    )
    corpus = spark.createDataFrame(
        [(0, base_text), (1, base_text.replace("dog", "cat"))]
        + [(99, "entirely different words about engines and pipelines")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "lsh")
    index_corpus(corpus, idx, buckets=8)
    assert read_tier_meta(idx, "bands") == {"buckets": 8, "key": ["id"]}
    assert read_tier_meta(idx, "shingles") == {"buckets": 8, "key": ["id"]}

    ck = str(tmp_path / "ck")
    feed = tmp_path / "feed"
    feed.mkdir()
    for i, txt in enumerate(
        [base_text.replace("today", "tomorrow"), base_text.replace("owl", "hawk")]
    ):
        with open(feed / f"b{i}.jsonl", "w") as f:
            f.write(_json.dumps({"doc_id": 10 + i, "text": txt}) + "\n")
        q = stream_dedup(spark, str(feed), idx, str(tmp_path / "m"), checkpoint=ck)
        q.awaitTermination(120)

    probe = spark.createDataFrame(
        [(77, base_text.replace("owl", "hawk"))], "doc_id bigint, text string"
    )
    before = sorted(map(tuple, match_batch(spark, probe, idx, append=False).collect()))
    # matches span BOTH index populations: corpus doc 0 (base buckets)
    # and streamed doc 11 (its crawl is identical to the probe)
    assert {c for _, c, _ in before} >= {0, 11}
    folded = compact_index(spark, idx, ck)
    assert folded == {"bands": 2, "shingles": 2}
    for tier in ("bands", "shingles"):
        assert sorted(os.listdir(os.path.join(idx, tier))) == ["batch=base"]
    after = sorted(map(tuple, match_batch(spark, probe, idx, append=False).collect()))
    assert after == before


def test_stream_dedup_inline_compaction(spark, tmp_path):
    """stream_dedup's compact_every hook (round 14): with
    compact_every=2 over three one-file micro-batches, batch 2's sink
    folds batches 0 and 1 into base BEFORE probing — the final index
    holds base + only batch 2's fold, and every probe along the way saw
    the full membership (the planted crawl-2-copies-crawl-0 match
    proves the folded rows stayed probe-visible)."""
    import json as _json

    from data_pipeline_spark.streaming.dedup_stream import (
        index_corpus,
        stream_dedup,
    )
    from data_pipeline_spark.streaming.index_util import run_batch_key

    base_text = (
        "the quick brown fox jumps over the lazy dog again and again today "
        "while the patient grey owl watches from a very tall oak tree and "
        "counts every single jump with great care and quiet amusement"
    )
    corpus = spark.createDataFrame(
        [(0, base_text),
         (99, "entirely different words about engines and pipelines")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "lsh")
    index_corpus(corpus, idx, buckets=8)
    ck = str(tmp_path / "ck")
    feed = tmp_path / "feed"
    feed.mkdir()
    texts = [
        base_text.replace("today", "tomorrow"),   # batch 0
        base_text.replace("owl", "hawk"),         # batch 1
        base_text.replace("today", "tomorrow"),   # batch 2: copy of b0's doc
    ]
    for i, txt in enumerate(texts):
        p = feed / f"b{i}.jsonl"
        with open(p, "w") as f:
            f.write(_json.dumps({"doc_id": 10 + i, "text": txt}) + "\n")
        os.utime(p, (1000 + i, 1000 + i))
    q = stream_dedup(spark, str(feed), idx, str(tmp_path / "m"),
                     checkpoint=ck, max_files_per_trigger=1,
                     compact_every=2)
    q.awaitTermination(180)

    # batches 0 and 1 folded into base at batch 2; batch 2's own fold
    # survives under its key
    for tier in ("bands", "shingles"):
        dirs = sorted(os.listdir(os.path.join(idx, tier)))
        batch_dirs = [d for d in dirs if d.startswith("batch=")]
        assert batch_dirs == sorted(
            ["batch=base", f"batch={run_batch_key(ck, 2)}"]
        ), batch_dirs
    # batch 2 (doc 12) matched doc 10 — whose fold was compacted into
    # base in the same sink invocation that probed
    matches = spark.read.parquet(str(tmp_path / "m"))
    pairs = {(r.new_id, r.corpus_id) for r in matches.collect()}
    assert (12, 10) in pairs


def test_rebuild_clears_stale_compaction_state(spark, tmp_path):
    """index_corpus REBUILD over a dir holding a crashed compaction's
    staging+plan and stale batch partitions must not let either leak
    into the fresh index: the stale plan would otherwise be applied
    onto the new base at the next stream-start repair (old-corpus
    bucket files swapped into a new-corpus base), and the bands tier
    must derive from the new base ONLY, never the merged tier dir
    (stale batch shingles would silently skew the minhash signatures)."""
    from data_pipeline_spark.streaming.dedup_stream import index_corpus

    docs_a = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "one two three four five six seven eight nine ten")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "lsh")
    index_corpus(docs_a, idx, buckets=4)

    # stale batch partition from a previous stream + a crashed plan
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    for tier in ("bands", "shingles"):
        src = spark.read.parquet(tier_dir(idx, tier, "base"))
        src.write.parquet(tier_dir(idx, tier, key))
        cdir = os.path.join(idx, tier, ".compact")
        os.makedirs(os.path.join(cdir, "next", "_b=0"), exist_ok=True)
        with open(os.path.join(cdir, "plan.json"), "w") as f:
            json.dump({"mode": "buckets",
                       "swap": {"0": [["gone.parquet", "b0.0.parquet"]]},
                       "fold": []}, f)

    # REBUILD with a different corpus (doc 1's text changes)
    docs_b = spark.createDataFrame(
        [(1, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
         (3, "red orange yellow green blue indigo violet gray black white")],
        "doc_id bigint, text string",
    )
    index_corpus(docs_b, idx, buckets=4)
    for tier in ("bands", "shingles"):
        assert not os.path.isdir(os.path.join(idx, tier, ".compact"))
    # repair after the rebuild is a no-op (nothing stale to apply)
    repair_index_dir(idx)

    # the bands base must equal bands over docs_b ALONE — the stale
    # batch partition (docs_a shingles, still on disk for its possibly
    # live stream) must not have fed the signatures
    from data_pipeline_spark.queries.dedup import (
        bands_df,
        minhash_signatures,
        shingles_df,
    )

    want = sorted(
        map(tuple, bands_df(minhash_signatures(shingles_df(docs_b)))
            .select("id", "band", "bh").collect())
    )
    got = sorted(
        map(tuple, spark.read.parquet(tier_dir(idx, "bands", "base"))
            .select("id", "band", "bh").collect())
    )
    assert got == want
    # the stale batch partition itself is untouched (not this rebuild's
    # to delete — it may belong to a live stream's retry contract)
    assert os.path.isdir(tier_dir(idx, "bands", key))


def test_rebucket_index_lifecycle(spark, tmp_path):
    """rebucket_index closes the index bucket-count lifecycle (the
    entity rebucket_state twin): base rewritten under the new count with
    the meta swapped atomically WITH it, pending batch partitions left
    alone (they re-hash at fold time — no straddle), a later partial
    compaction works at the new count, and a crash after the plan
    persists is finished by repair."""
    from data_pipeline_spark.streaming.index_util import (
        index_stats,
        rebucket_index,
    )

    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 1000), idx, "fp", ["fp"], buckets=4)
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    _fp_rows(spark, 90000, 90003).write.parquet(tier_dir(idx, "fp", key))

    st = index_stats(idx, ck)["tiers"]["fp"]
    assert st["buckets"] == 4 and st["batch_dirs"] == 1
    assert st["committed_batch_dirs"] == 1
    max_before = st["bucket_bytes_max"]

    rebucket_index(spark, idx, 16)
    assert read_tier_meta(idx, "fp") == {"buckets": 16, "key": ["fp"]}
    st = index_stats(idx)["tiers"]["fp"]
    assert st["bucket_files"] > 4
    assert st["bucket_bytes_max"] < max_before
    df = spark.read.parquet(os.path.join(idx, "fp"))
    assert df.count() == 1003  # base 1000 + untouched batch partition
    assert os.path.isdir(tier_dir(idx, "fp", key))  # batch dir untouched

    # partial compaction at the NEW count folds the pending batch
    base = tier_dir(idx, "fp", "base")
    before = {f: os.path.getmtime(os.path.join(base, f))
              for f in _bucket_files(idx, "fp")}
    assert compact_index(spark, idx, ck) == {"fp": 1}
    after = {f: os.path.getmtime(os.path.join(base, f))
             for f in _bucket_files(idx, "fp")}
    changed = {f for f in after if before.get(f) != after[f]}
    assert 1 <= len(changed) <= 3
    assert spark.read.parquet(os.path.join(idx, "fp")).count() == 1003

    # crash drill: stage a rebucket's plan, die before apply -> repair
    # finishes the whole-base swap to the staged count
    from data_pipeline_spark.streaming.index_util import (
        _META_NAME,
        _move_bucket_files,
        _stage_bucketed,
    )

    tpath = os.path.join(idx, "fp")
    cdir = os.path.join(tpath, ".compact")
    stage = os.path.join(cdir, "stage")
    _stage_bucketed(spark.read.parquet(base), ["fp"], 8, stage)
    nxt = os.path.join(cdir, "next")
    os.makedirs(nxt)
    _move_bucket_files(stage, nxt)
    with open(os.path.join(nxt, _META_NAME), "w") as f:
        json.dump({"buckets": 8, "key": ["fp"]}, f)
    shutil.rmtree(stage)
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump({"mode": "replace_all", "fold": []}, f)
    repair_index_dir(idx)
    assert read_tier_meta(idx, "fp") == {"buckets": 8, "key": ["fp"]}
    assert spark.read.parquet(os.path.join(idx, "fp")).count() == 1003

    # explicit tier without a bucketed base fails loudly
    _fp_rows(spark, 0, 10).write.parquet(tier_dir(idx, "flattier", "base"))
    with pytest.raises(ValueError, match="no bucketed base"):
        rebucket_index(spark, idx, 8, tiers=["flattier"])


def test_write_base_empty_input_readable(spark, tmp_path):
    """write_base on an EMPTY input must leave a readable (empty) base,
    as the flat layout did — partitionBy of 0 rows emits no parquet
    leaves, so without the seed file the base held only _META.json and
    the next read died with schema-inference noise (ADVICE r14;
    reachable via CLI stream-refresh --init-corpus on an empty parquet).
    A later fold+compaction onto the empty base must work unchanged."""
    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 0), idx, "fp", ["fp"], buckets=8)
    assert read_tier_meta(idx, "fp") == {"buckets": 8, "key": ["fp"]}
    assert _bucket_files(idx, "fp") == ["b0.0.parquet"]
    df = spark.read.parquet(os.path.join(idx, "fp"))
    assert df.count() == 0
    assert set(df.columns) == {"fp", "batch"}

    # streams fold onto the empty base and compaction stays partial
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    _fp_rows(spark, 100, 150).write.parquet(tier_dir(idx, "fp", key))
    assert compact_index(spark, idx, ck) == {"fp": 1}
    assert spark.read.parquet(os.path.join(idx, "fp")).count() == 50
    assert read_tier_meta(idx, "fp") == {"buckets": 8, "key": ["fp"]}


def test_rebucket_index_empty_tier(spark, tmp_path):
    """rebucket_index over an empty (seeded) base stages through
    _stage_replace_all, which needs the same empty-input seed —
    otherwise the swapped-in base would be meta-only and unreadable."""
    from data_pipeline_spark.streaming.index_util import rebucket_index

    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 0), idx, "fp", ["fp"], buckets=4)
    rebucket_index(spark, idx, 16)
    assert read_tier_meta(idx, "fp") == {"buckets": 16, "key": ["fp"]}
    df = spark.read.parquet(os.path.join(idx, "fp"))
    assert df.count() == 0
    assert set(df.columns) == {"fp", "batch"}


def test_shared_lease_repairs_dead_compactor(spark, tmp_path):
    """ADVICE r14 (medium): an out-of-band compactor dies mid-apply
    (plan persisted, SOME bucket files swapped, folded batch dirs not
    yet deleted) while a stream is live on the same index — the OS
    released the dead process's flock, so the stream's next micro-batch
    could take the shared lock and see the folded rows BOTH in base and
    in the surviving batch dir (double-counted rows inflate Jaccard).
    shared_index_lease must repair (exclusive) before serving (shared):
    inside the lease the tier reads exactly once-folded."""
    from data_pipeline_spark.streaming.index_util import (
        _stage_partial,
        shared_index_lease,
    )

    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 1000), idx, "fp", ["fp"], buckets=4)
    ck = _mk_checkpoint(tmp_path, "ck", [0])
    key = run_batch_key(ck, 0)
    _fp_rows(spark, 90000, 90050).write.parquet(tier_dir(idx, "fp", key))
    tpath = os.path.join(idx, "fp")
    cdir = os.path.join(tpath, ".compact")
    base = tier_dir(idx, "fp", "base")
    new = spark.read.parquet(tier_dir(idx, "fp", key))

    plan = _stage_partial(spark, base, new, new.unionByName, [key])
    assert len(plan["swap"]) >= 2
    with open(os.path.join(cdir, "plan.json"), "w") as f:
        json.dump(plan, f)
    # dead-compactor state: ONE bucket swapped in, the rest staged, the
    # folded batch dir still present (deletes run at the end of apply)
    n, pairs = next(iter(plan["swap"].items()))
    src, tgt = pairs[0]
    os.replace(os.path.join(cdir, "next", f"_b={n}", src),
               os.path.join(base, tgt))
    # without repair, a raw read now double-counts the swapped bucket's
    # folded rows (they are in base AND in the batch dir)
    assert spark.read.parquet(tpath).count() > 1050

    with shared_index_lease(idx):
        assert not os.path.isdir(cdir)  # plan finished before serving
        assert not os.path.isdir(tier_dir(idx, "fp", key))  # fold deleted
        assert spark.read.parquet(tpath).count() == 1050
    # idempotent: the next micro-batch's lease is a no-op repair
    with shared_index_lease(idx):
        assert spark.read.parquet(tpath).count() == 1050


def test_try_lock_surfaces_non_contention_errors(tmp_path, monkeypatch):
    """try_maintenance_lock must re-raise flock failures that are NOT
    contention (e.g. ENOLCK on an NFS state dir) — treating them as
    'busy' made the caller silently skip crash repair (ADVICE r14)."""
    import errno

    from data_pipeline_spark.streaming import storage
    from data_pipeline_spark.streaming.locks import try_maintenance_lock

    root = str(tmp_path / "state")

    def boom(fd, op):
        raise OSError(errno.ENOLCK, "no locks available")

    monkeypatch.setattr(storage.fcntl, "flock", boom)
    with pytest.raises(OSError, match="no locks"):
        with try_maintenance_lock(root):
            pass

    def busy(fd, op):
        raise OSError(errno.EWOULDBLOCK, "resource temporarily unavailable")

    monkeypatch.setattr(storage.fcntl, "flock", busy)
    with try_maintenance_lock(root) as got:
        assert got is False  # contention still reads as busy, not error


def test_all_mutations_route_through_storage_provider(spark, tmp_path):
    """The object-store seam (VERDICT r14 #3) is only real if EVERY
    maintenance mutation goes through it — a future inlined os.replace
    would silently fall outside a cloud backend.  Run a full
    write-fold-compact-rebucket cycle under a RECORDING provider and
    assert the atomic primitives were exercised through the seam (the
    drills above prove behavior; this proves routing)."""
    from data_pipeline_spark.streaming import storage
    from data_pipeline_spark.streaming.index_util import rebucket_index

    class Recording(storage.PosixStorageProvider):
        def __init__(self):
            self.calls = {"publish_file": 0, "swap_dir": 0,
                          "remove_dir": 0, "remove_file": 0,
                          "exclusive_lease": 0, "shared_lease": 0}

        def publish_file(self, src, dst):
            self.calls["publish_file"] += 1
            super().publish_file(src, dst)

        def swap_dir(self, src, dst):
            self.calls["swap_dir"] += 1
            super().swap_dir(src, dst)

        def remove_dir(self, path, missing_ok=False):
            self.calls["remove_dir"] += 1
            super().remove_dir(path, missing_ok)

        def remove_file(self, path):
            self.calls["remove_file"] += 1
            super().remove_file(path)

        def exclusive_lease(self, root):
            self.calls["exclusive_lease"] += 1
            return super().exclusive_lease(root)

        def shared_lease(self, root):
            self.calls["shared_lease"] += 1
            return super().shared_lease(root)

    rec = Recording()
    storage.set_provider(rec)
    try:
        idx = str(tmp_path / "idx")
        write_base(_fp_rows(spark, 0, 500), idx, "fp", ["fp"], buckets=4)
        ck = _mk_checkpoint(tmp_path, "ck", [0])
        key = run_batch_key(ck, 0)
        _fp_rows(spark, 90000, 90020).write.parquet(tier_dir(idx, "fp", key))
        assert compact_index(spark, idx, ck) == {"fp": 1}
        rebucket_index(spark, idx, 8)
        assert spark.read.parquet(os.path.join(idx, "fp")).count() == 520
    finally:
        storage.set_provider(storage.PosixStorageProvider())
    # write_base publishes bucket files; compaction publishes the plan +
    # swapped buckets; rebucket swaps the whole base dir; every
    # maintenance op took the exclusive lease
    assert rec.calls["publish_file"] >= 6
    assert rec.calls["swap_dir"] >= 1        # rebucket's replace_all
    assert rec.calls["remove_dir"] >= 4      # staging + fold deletes
    assert rec.calls["exclusive_lease"] >= 2  # compact + rebucket


def test_shared_lease_skips_exclusive_when_no_plan(spark, tmp_path):
    """Review r15: with NO pending plan, shared_index_lease must not
    take the blocking exclusive repair lock — otherwise every
    micro-batch of every stream sharing an index dir serializes behind
    any other stream's shared-held batch (flock(LOCK_EX) waits out all
    shared holders).  Two shared holders must coexist when there is
    nothing to repair; the probe-positive path is covered by
    test_shared_lease_repairs_dead_compactor."""
    import threading

    from data_pipeline_spark.streaming.index_util import shared_index_lease
    from data_pipeline_spark.streaming.locks import maintenance_lock

    idx = str(tmp_path / "idx")
    write_base(_fp_rows(spark, 0, 10), idx, "fp", ["fp"], buckets=2)

    entered = threading.Event()

    def other_stream_batch():
        with shared_index_lease(idx):
            entered.set()

    with maintenance_lock(idx, shared=True):  # a stream mid-micro-batch
        t = threading.Thread(target=other_stream_batch, daemon=True)
        t.start()
        assert entered.wait(15), (
            "shared_index_lease blocked behind a shared holder with no "
            "pending plan — the exclusive repair is not gated on the "
            "plan probe"
        )
    t.join(15)
