"""Exhaustive crash-boundary sweep through the storage-provider seam.

The round-14/15 crash drills stage specific failure states by hand
(plan persisted / base missing / staging only).  This module closes the
gap between "the crash points we thought of" and "every crash point
that exists": a fault-injecting provider (the test double
storage.set_provider was built for) counts every mutation primitive a
maintenance op performs — publish_file, swap_dir, remove_dir,
remove_file — and the sweep re-runs the op crashing before the k-th
mutation for EVERY k, then proves recovery from each resulting disk
state:

- index compaction: repair_index_dir + a follow-up compact_index must
  converge to exactly the serial (no-crash) rows — any double-fold or
  lost fold changes the row multiset and fails the equality;
- entity compaction: the very next ``lookup_state`` (the documented
  repair-then-shared serving read, ADVICE r14 medium) must serve the
  correct folded value BEFORE any explicit repair, at every k — and the
  state must then converge to the serial fold.

Faithfulness: the injected exception is a BaseException raised INSIDE
the maintenance op's critical section.  The maintenance paths hold no
try/except around their mutations (verified: the only handlers in
index_util/entity_stream are FileNotFoundError guards on reads), so the
disk state at the raise is exactly the state a SIGKILL would leave; the
lease released by context-manager unwind mirrors the OS releasing a
dead process's flock.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

# crash/two-process drills: full-coverage tier, excluded from the
# default (driver-window) selection — run with -m 'slow or not slow'
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from data_pipeline_spark.streaming import storage
from data_pipeline_spark.streaming.entity_stream import (
    compact_entity_state,
    init_state,
    latest_state,
    lookup_state,
    read_state_meta,
    rebucket_state,
    repair_state_dir,
    stream_entity_builds,
)
from data_pipeline_spark.streaming.index_util import (
    compact_index,
    read_tier_meta,
    rebucket_index,
    repair_index_dir,
    run_batch_key,
    tier_dir,
    write_base,
)
from data_pipeline_spark.streaming.storage import PosixStorageProvider


class _Crash(BaseException):
    """Injected process death.  BaseException on purpose: nothing in
    the engine may intercept it — an ``except Exception`` cleanup that
    caught it would make the drill weaker than a real SIGKILL."""


class FaultInjectingProvider:
    """Counts mutation primitives; crashes before mutation #crash_at+1.

    ``crash_at=None`` records the mutation trace without crashing (the
    probe run that sizes the sweep).  Leases pass through uncounted —
    they don't mutate state, and a crash releases them exactly as the
    context unwind does.
    """

    def __init__(self, crash_at: int | None = None):
        self._inner = PosixStorageProvider()
        self.crash_at = crash_at
        self.trace: list[tuple[str, str]] = []

    def _gate(self, op: str, path: str) -> None:
        if self.crash_at is not None and len(self.trace) >= self.crash_at:
            raise _Crash(f"injected crash before {op} #{len(self.trace) + 1}"
                         f" ({path})")
        self.trace.append((op, path))

    def publish_file(self, src: str, dst: str) -> None:
        self._gate("publish_file", dst)
        self._inner.publish_file(src, dst)

    def swap_dir(self, src: str, dst: str) -> None:
        self._gate("swap_dir", dst)
        self._inner.swap_dir(src, dst)

    def remove_dir(self, path: str, missing_ok: bool = False) -> None:
        self._gate("remove_dir", path)
        self._inner.remove_dir(path, missing_ok=missing_ok)

    def remove_file(self, path: str) -> None:
        self._gate("remove_file", path)
        self._inner.remove_file(path)

    def exclusive_lease(self, root: str):
        return self._inner.exclusive_lease(root)

    def shared_lease(self, root: str):
        return self._inner.shared_lease(root)

    def try_exclusive_lease(self, root: str):
        return self._inner.try_exclusive_lease(root)


@pytest.fixture(autouse=True)
def _restore_provider():
    yield
    storage.set_provider(PosixStorageProvider())


# ---------------------------------------------------------------------------
# index compaction sweep
# ---------------------------------------------------------------------------


def _mk_checkpoint(tmp_path, name, committed):
    ck = tmp_path / name
    (ck / "commits").mkdir(parents=True)
    for i in committed:
        (ck / "commits" / str(i)).write_text("{}")
    return str(ck)


def _index_rows(spark, idx):
    out = {}
    for tier in sorted(os.listdir(idx)):
        if not os.path.isdir(os.path.join(idx, tier)):
            continue
        df = spark.read.parquet(os.path.join(idx, tier))
        cols = sorted(c for c in df.columns if c != "batch")
        out[tier] = sorted(
            tuple(r[c] for c in cols) for r in df.select(*cols).collect()
        )
    return out


def _build_index_fixture(spark, tmp_path):
    """Two tiers, two committed fold batches each — the sweep crosses a
    tier boundary and a multi-batch fold."""
    idx = str(tmp_path / "idx_pre")
    fp = spark.range(0, 60).selectExpr("md5(cast(id as string)) AS fp")
    write_base(fp, idx, "fp", ["fp"], buckets=8)
    sig = spark.range(0, 40).selectExpr(
        "cast(id as string) AS id", "crc32(cast(id as string)) AS sig"
    )
    write_base(sig, idx, "sig", ["id"], buckets=8)
    ck = _mk_checkpoint(tmp_path, "ck", [0, 1])
    for b, (lo, hi) in enumerate([(1000, 1003), (2000, 2002)]):
        key = run_batch_key(ck, b)
        spark.range(lo, hi).selectExpr(
            "md5(cast(id as string)) AS fp"
        ).write.parquet(tier_dir(idx, "fp", key))
        spark.range(lo, hi).selectExpr(
            "cast(id as string) AS id", "crc32(cast(id as string)) AS sig"
        ).write.parquet(tier_dir(idx, "sig", key))
    return idx, ck


def test_index_compaction_crash_sweep(spark, tmp_path):
    idx_pre, ck = _build_index_fixture(spark, tmp_path)

    # serial twin: the answer every crashed-and-recovered run must reach
    serial = str(tmp_path / "idx_serial")
    shutil.copytree(idx_pre, serial)
    assert compact_index(spark, serial, ck) == {"fp": 2, "sig": 2}
    want = _index_rows(spark, serial)
    assert len(want["fp"]) == 65 and len(want["sig"]) == 45

    # probe run: size the sweep from the actual mutation trace
    probe_dir = str(tmp_path / "idx_probe")
    shutil.copytree(idx_pre, probe_dir)
    probe = FaultInjectingProvider(crash_at=None)
    storage.set_provider(probe)
    compact_index(spark, probe_dir, ck)
    storage.set_provider(PosixStorageProvider())
    n = len(probe.trace)
    assert n >= 8, probe.trace  # plan publishes + bucket swaps + deletes
    assert _index_rows(spark, probe_dir) == want  # counting changed nothing

    for k in range(n):
        work = str(tmp_path / f"idx_k{k}")
        shutil.copytree(idx_pre, work)
        storage.set_provider(FaultInjectingProvider(crash_at=k))
        with pytest.raises(_Crash):
            compact_index(spark, work, ck)
        storage.set_provider(PosixStorageProvider())
        # recovery protocol: repair (applies any persisted plan), then a
        # plain compaction folds whatever the crash left unfolded
        repair_index_dir(work)
        compact_index(spark, work, ck)
        got = _index_rows(spark, work)
        assert got == want, f"crash before mutation #{k + 1} diverged"
        # converged layout: base only, no staging/plan remnants
        for tier in ("fp", "sig"):
            left = {d for d in os.listdir(os.path.join(work, tier))
                    if d.startswith(("batch=", ".compact"))}
            assert left == {"batch=base"}, (k, tier, left)
        shutil.rmtree(work)  # keep tmp bounded across the sweep


# ---------------------------------------------------------------------------
# entity compaction sweep
# ---------------------------------------------------------------------------


def _uri(k):
    return f"https://fixture.test/srcA/{k}"


def _doc(k, label):
    return json.dumps({"id": _uri(k), "type": "Person", "_label": label})


def _build_entity_fixture(spark, tmp_path):
    """12 records, one crawl updating key 3 and deleting key 5 — two
    touched buckets out of 4, folded but not yet compacted."""
    rows = [
        ("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
         _doc(k, f"A{k}"))
        for k in range(12)
    ]
    records = spark.createDataFrame(
        rows,
        "source string, identifier string, rectype string, "
        "record_time string, change string, data string",
    )
    e = spark.createDataFrame
    indexes = {
        "name_index": e([], "source string, name_clean string, "
                            "target_identifier string, rectype string"),
        "uri_index": e([], "source string, ext_uri string, "
                           "target_identifier string, rectype string"),
        "same_as": e([], "uri_a string, uri_b string"),
        "different_from": e([], "uri_a string, uri_b string"),
    }
    state = str(tmp_path / "state_pre")
    init_state(spark, records, indexes, state, buckets=4)
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    p = feed_dir / "crawl0.jsonl"
    with open(p, "w") as f:
        f.write(json.dumps({
            "seq": 1, "end_time": "2026-02-01T10:00:00", "change": "update",
            "object_uri": _uri(3), "payload": _doc(3, "A3-v2"),
        }) + "\n")
        f.write(json.dumps({
            "seq": 2, "end_time": "2026-02-01T10:00:00", "change": "delete",
            "object_uri": _uri(5), "payload": None,
        }) + "\n")
    ck = str(tmp_path / "eck")
    q = stream_entity_builds(spark, str(feed_dir), state, ck, indexes)
    q.awaitTermination(180)
    return state, ck


def _entity_rows(spark, state, ck):
    out = latest_state(spark, state, ck)
    return {
        "records": sorted(
            (r["source"], r["identifier"], r["data"])
            for r in out["records"].collect()
        ),
        "merged": sorted(
            (r["yuid"], r["data"]) for r in out["merged"].collect()
        ),
    }


def test_entity_compaction_crash_sweep(spark, tmp_path):
    state_pre, ck = _build_entity_fixture(spark, tmp_path)

    serial = str(tmp_path / "state_serial")
    shutil.copytree(state_pre, serial)
    assert compact_entity_state(spark, serial, ck) == {
        "records": 1, "idmap": 1, "merged": 1
    }
    want = _entity_rows(spark, serial, ck)
    labels = {json.loads(d)["_label"] for _, _, d in want["records"]}
    assert "A3-v2" in labels and "A5" not in labels

    probe_dir = str(tmp_path / "state_probe")
    shutil.copytree(state_pre, probe_dir)
    probe = FaultInjectingProvider(crash_at=None)
    storage.set_provider(probe)
    compact_entity_state(spark, probe_dir, ck)
    storage.set_provider(PosixStorageProvider())
    n = len(probe.trace)
    assert n >= 9, probe.trace  # >=3 mutations per tier

    for k in range(n):
        work = str(tmp_path / f"state_k{k}")
        shutil.copytree(state_pre, work)
        storage.set_provider(FaultInjectingProvider(crash_at=k))
        with pytest.raises(_Crash):
            compact_entity_state(spark, work, ck)
        storage.set_provider(PosixStorageProvider())
        # ADVICE r14 medium, drilled at EVERY boundary: the serving read
        # repairs (exclusive) then serves (shared) — no explicit repair
        # has run yet, and the answer must already be the correct fold
        served = {
            json.loads(r["data"])["id"]: r["data"]
            for r in lookup_state(
                spark, work, ck, [_uri(3), _uri(5), _uri(7)]
            ).collect()
        }
        assert json.loads(served[_uri(3)])["_label"] == "A3-v2", k
        assert _uri(5) not in served, k  # tombstoned key stays deleted
        assert json.loads(served[_uri(7)])["_label"] == "A7", k
        # then converge: repair + compact reach the serial state exactly
        repair_state_dir(work)
        compact_entity_state(spark, work, ck)
        assert _entity_rows(spark, work, ck) == want, (
            f"crash before mutation #{k + 1} diverged"
        )
        shutil.rmtree(work)


# ---------------------------------------------------------------------------
# rebucket sweeps — the remaining two maintenance mutation paths
# ---------------------------------------------------------------------------


def test_index_rebucket_crash_sweep(spark, tmp_path):
    """rebucket_index crashed before every mutation boundary: repair
    (plus a re-run when the crash predates the tier's plan) must leave
    exactly the old rows under the TARGET bucket count — the staged
    replace_all plan's old-base-or-new contract, proven at every
    instant instead of the one hand-staged point."""
    idx_pre, ck = _build_index_fixture(spark, tmp_path)
    want = _index_rows(spark, idx_pre)  # rebucket moves no rows

    probe_dir = str(tmp_path / "rb_probe")
    shutil.copytree(idx_pre, probe_dir)
    probe = FaultInjectingProvider(crash_at=None)
    storage.set_provider(probe)
    rebucket_index(spark, probe_dir, 16, tiers=["fp", "sig"])
    storage.set_provider(PosixStorageProvider())
    n = len(probe.trace)
    assert n >= 6, probe.trace
    assert _index_rows(spark, probe_dir) == want
    assert all(read_tier_meta(probe_dir, t)["buckets"] == 16
               for t in ("fp", "sig"))

    for k in range(n):
        work = str(tmp_path / f"rb_k{k}")
        shutil.copytree(idx_pre, work)
        storage.set_provider(FaultInjectingProvider(crash_at=k))
        with pytest.raises(_Crash):
            rebucket_index(spark, work, 16, tiers=["fp", "sig"])
        storage.set_provider(PosixStorageProvider())
        repair_index_dir(work)  # finishes any persisted plan
        assert _index_rows(spark, work) == want, f"rows lost at #{k + 1}"
        if any(read_tier_meta(work, t)["buckets"] != 16
               for t in ("fp", "sig")):
            # crash predates some tier's plan: old base survives whole —
            # re-running the op is the documented recovery
            rebucket_index(spark, work, 16, tiers=["fp", "sig"])
        assert _index_rows(spark, work) == want, f"diverged at #{k + 1}"
        assert all(read_tier_meta(work, t)["buckets"] == 16
                   for t in ("fp", "sig")), k
        for tier in ("fp", "sig"):
            assert ".compact" not in os.listdir(os.path.join(work, tier))
        shutil.rmtree(work)


def test_entity_rebucket_crash_sweep(spark, tmp_path):
    """rebucket_state crashed before every mutation boundary, with a
    committed delta pending (no compact-first precondition: folds
    recompute buckets from each tier's own meta).  Drilled at every k:
    the very next lookup_state serves the correct values — tiers may sit
    at different bucket counts, each base swapped WITH its meta — and
    re-running the op converges to the target count with the rows
    intact; a compaction afterwards still reaches the serial fold."""
    state_pre, ck = _build_entity_fixture(spark, tmp_path)
    want = _entity_rows(spark, state_pre, ck)

    probe_dir = str(tmp_path / "erb_probe")
    shutil.copytree(state_pre, probe_dir)
    probe = FaultInjectingProvider(crash_at=None)
    storage.set_provider(probe)
    rebucket_state(spark, probe_dir, 8)
    storage.set_provider(PosixStorageProvider())
    n = len(probe.trace)
    assert n >= 8, probe.trace
    assert _entity_rows(spark, probe_dir, ck) == want
    assert {m["buckets"] for m in read_state_meta(probe_dir).values()} == {8}

    for k in range(n):
        work = str(tmp_path / f"erb_k{k}")
        shutil.copytree(state_pre, work)
        storage.set_provider(FaultInjectingProvider(crash_at=k))
        with pytest.raises(_Crash):
            rebucket_state(spark, work, 8)
        storage.set_provider(PosixStorageProvider())
        # serving read first, before any repair: correct rows whatever
        # mix of old and new per-tier bucket counts the crash left
        served = {
            json.loads(r["data"])["id"]: r["data"]
            for r in lookup_state(
                spark, work, ck, [_uri(3), _uri(5), _uri(7)]
            ).collect()
        }
        assert json.loads(served[_uri(3)])["_label"] == "A3-v2", k
        assert _uri(5) not in served, k
        assert json.loads(served[_uri(7)])["_label"] == "A7", k
        # recovery: re-run the op.  It must cope with every crash
        # residue — half-applied plan, tiers at mixed counts — because
        # its own entry repairs tiers and re-reads each FULL base
        rebucket_state(spark, work, 8)
        assert _entity_rows(spark, work, ck) == want, f"diverged at #{k + 1}"
        meta = read_state_meta(work)
        assert {m["buckets"] for m in meta.values()} == {8}, (k, meta)
        compact_entity_state(spark, work, ck)
        assert _entity_rows(spark, work, ck) == want, f"compact diverged at #{k + 1}"
        shutil.rmtree(work)
