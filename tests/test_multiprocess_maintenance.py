"""Two concurrent PROCESSES against one shared index (VERDICT r14 #6).

Every committed crash drill is single-process with staged crash points;
the locking design ARGUES that a live dedup stream (shared lease per
micro-batch, exclusive repair first) serializes against an out-of-band
maintenance process (exclusive lease around compact/rebucket) — this
test turns the flock reasoning into evidence.  A real subprocess with
its own SparkSession hammers ``compact_index`` in a loop (plus one
``rebucket_index`` mid-run) against the SAME index directory while the
main process's ``stream_dedup`` drains ten micro-batches, and the final
state must be EXACTLY the serial run's: identical match rows, identical
index rows, no FileNotFoundError / torn read in either process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest
import sys
import time

# crash/two-process drills: full-coverage tier, excluded from the
# default (driver-window) selection — run with -m 'slow or not slow'
pytestmark = pytest.mark.slow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The out-of-band maintenance process: compact_index in a tight loop
# (folding whatever batches the live stream has committed so far) with
# one rebucket_index thrown in — the two exclusive-lease maintenance
# ops a production operator would run against a live index.
_MAINT_SCRIPT = """
import json, os, sys, time, traceback
index_dir, ckpt, ready, stop, report = sys.argv[1:6]
sys.path.insert(0, sys.argv[6])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.host", "127.0.0.1")
         .appName("oob_maintenance").getOrCreate())
from data_pipeline_spark.streaming.index_util import (
    compact_index, rebucket_index,
)
out = {"compactions": 0, "rebuckets": 0, "events": [], "error": None}
with open(ready, "w") as f:
    f.write("1")
try:
    while not os.path.exists(stop):
        t0 = time.time()
        folded = compact_index(spark, index_dir, ckpt)
        out["compactions"] += 1
        out["events"].append({"op": "compact", "t0": t0, "t1": time.time(),
                              "folded": sum(folded.values())})
        if out["compactions"] == 2:
            t0 = time.time()
            rebucket_index(spark, index_dir, 64,
                           tiers=["bands", "shingles"])
            out["rebuckets"] += 1
            out["events"].append({"op": "rebucket", "t0": t0,
                                  "t1": time.time()})
except BaseException:
    out["error"] = traceback.format_exc()
with open(report, "w") as f:
    json.dump(out, f)
spark.stop()
sys.exit(1 if out["error"] else 0)
"""


def _corpus_and_feed(spark, tmp_path):
    """40 corpus docs + 10 crawl files of near-copies (one word changed
    — same shape as the r14 gate's plants): every crawl doc matches its
    corpus source, so a lost bucket, torn read, or double fold anywhere
    changes the match set."""
    base = (
        "the quick brown fox number {i} jumps over the lazy dog again "
        "and again while the patient grey owl number {i} watches from a "
        "very tall oak tree and counts every single jump with great "
        "care and quiet amusement for hours"
    )
    corpus = spark.createDataFrame(
        [(i, base.format(i=i)) for i in range(40)],
        "doc_id bigint, text string",
    )
    feed = tmp_path / "feed"
    feed.mkdir()
    for j in range(10):
        with open(feed / f"crawl{j:02d}.jsonl", "w") as f:
            for k in range(4):
                src = (j * 4 + k) % 40
                f.write(json.dumps({
                    "doc_id": 1000 + j * 4 + k,
                    "text": base.format(i=src).replace("dog", "cat"),
                }) + "\n")
    return corpus, str(feed)


def _run_stream(spark, feed, index_dir, matches_dir, ckpt):
    from data_pipeline_spark.streaming.dedup_stream import stream_dedup

    q = stream_dedup(spark, feed, index_dir, matches_dir,
                     checkpoint=ckpt, max_files_per_trigger=1)
    q.awaitTermination(600)


def _match_rows(spark, matches_dir):
    return {
        (r.new_id, r.corpus_id, round(r.jaccard, 6))
        for r in spark.read.parquet(matches_dir)
        .select("new_id", "corpus_id", "jaccard").collect()
    }


def _index_rows(spark, index_dir, tier, cols):
    return set(map(tuple, (
        spark.read.parquet(os.path.join(index_dir, tier))
        .select(*cols).collect()
    )))


def test_live_stream_vs_out_of_band_maintenance_process(spark, tmp_path):
    from data_pipeline_spark.streaming.dedup_stream import index_corpus
    from data_pipeline_spark.streaming.index_util import compact_index

    corpus, feed = _corpus_and_feed(spark, tmp_path)
    idx_c = str(tmp_path / "idx_concurrent")
    index_corpus(corpus, idx_c, buckets=32)
    idx_s = str(tmp_path / "idx_serial")
    shutil.copytree(idx_c, idx_s)

    # --- concurrent run: subprocess maintenance loop + live stream ----
    ckpt_c = str(tmp_path / "ckpt_c")
    ready = str(tmp_path / "maint_ready")
    stop = str(tmp_path / "maint_stop")
    report_path = str(tmp_path / "maint_report.json")
    script = tmp_path / "maint.py"
    script.write_text(_MAINT_SCRIPT)
    proc = subprocess.Popen(
        [sys.executable, str(script), idx_c, ckpt_c, ready, stop,
         report_path, REPO],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        while not os.path.exists(ready):
            assert proc.poll() is None, (
                f"maintenance process died during startup:\n"
                f"{proc.communicate()[1][-2000:]}"
            )
            assert time.time() < deadline, "maintenance process not ready"
            time.sleep(0.2)
        stream_t0 = time.time()
        _run_stream(spark, feed, idx_c, str(tmp_path / "m_c"), ckpt_c)
        stream_t1 = time.time()
    finally:
        with open(stop, "w") as f:
            f.write("1")
        try:
            proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            raise
    report = json.load(open(report_path))
    assert report["error"] is None, report["error"]
    assert proc.returncode == 0
    assert report["compactions"] >= 1 and report["rebuckets"] == 1
    # the drill only proves serialization if maintenance actually ran
    # DURING the stream — require at least one overlapping op window
    overlapping = [
        e for e in report["events"]
        if e["t0"] < stream_t1 and e["t1"] > stream_t0
    ]
    assert overlapping, (
        f"no maintenance op overlapped the stream "
        f"[{stream_t0:.1f}, {stream_t1:.1f}]: {report['events']}"
    )
    # fold whatever the loop didn't get to, from the main process
    compact_index(spark, idx_c, ckpt_c)

    # --- serial reference: same workload, no concurrent maintenance --
    ckpt_s = str(tmp_path / "ckpt_s")
    _run_stream(spark, feed, idx_s, str(tmp_path / "m_s"), ckpt_s)
    compact_index(spark, idx_s, ckpt_s)

    # --- equivalence: probe results and index content are EXACT ------
    got = _match_rows(spark, str(tmp_path / "m_c"))
    want = _match_rows(spark, str(tmp_path / "m_s"))
    assert got == want and len(got) >= 40  # every crawl doc matched
    for tier, cols in (("bands", ["id", "band", "bh"]),
                       ("shingles", ["id", "shingle"])):
        assert (_index_rows(spark, idx_c, tier, cols)
                == _index_rows(spark, idx_s, tier, cols)), tier


# ---------------------------------------------------------------------------
# entity-state twin: live entity stream vs out-of-band compact/lookup/rebucket
# ---------------------------------------------------------------------------
_ENTITY_MAINT_SCRIPT = """
import json, os, sys, time, traceback
state_dir, ckpt, ready, stop, report = sys.argv[1:6]
sys.path.insert(0, sys.argv[6])
probe_keys = json.loads(sys.argv[7])
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.host", "127.0.0.1")
         .appName("oob_entity_maintenance").getOrCreate())
from data_pipeline_spark.streaming.entity_stream import (
    compact_entity_state, lookup_state, rebucket_state,
)
out = {"compactions": 0, "lookups": 0, "rebuckets": 0, "events": [],
       "error": None}
with open(ready, "w") as f:
    f.write("1")
try:
    while not os.path.exists(stop):
        t0 = time.time()
        compact_entity_state(spark, state_dir, ckpt)
        out["compactions"] += 1
        out["events"].append({"op": "compact", "t0": t0, "t1": time.time()})
        t0 = time.time()
        rows = lookup_state(spark, state_dir, ckpt, probe_keys).collect()
        # every served row must parse — a torn read (half-swapped
        # bucket) would surface as a missing/garbled payload here
        for r in rows:
            json.loads(r["data"])
        out["lookups"] += 1
        out["events"].append({"op": "lookup", "t0": t0, "t1": time.time(),
                              "rows": len(rows)})
        if out["rebuckets"] == 0 and out["compactions"] >= 2:
            # pending committed deltas need no compaction first: folds
            # recompute buckets from each tier's own meta
            t0 = time.time()
            rebucket_state(spark, state_dir, 32)
            out["rebuckets"] += 1
            out["events"].append({"op": "rebucket", "t0": t0,
                                  "t1": time.time()})
except BaseException:
    out["error"] = traceback.format_exc()
with open(report, "w") as f:
    json.dump(out, f)
spark.stop()
sys.exit(1 if out["error"] else 0)
"""


def _uri(src, k):
    return f"https://fixture.test/{src}/{k}"


def _doc(src, k, label):
    return json.dumps(
        {"id": _uri(src, k), "type": "Person", "_label": label}
    )


def _entity_fixtures(spark, tmp_path):
    """40 initial records + 4 crawls of updates/deletes (3 updates and
    one delete each) — every crawl touches keys no other crawl touches,
    so the final folded state is a pure function of the feed."""
    rows = [
        ("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
         _doc("srcA", k, f"A{k}"))
        for k in range(40)
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
    feed_dir = tmp_path / "entity_feed"
    feed_dir.mkdir()
    seq = 0
    for j in range(4):
        p = feed_dir / f"crawl{j}.jsonl"
        with open(p, "w") as f:
            for k in range(j * 3, j * 3 + 3):
                seq += 1
                f.write(json.dumps({
                    "seq": seq, "end_time": f"2026-02-0{j + 1}T10:00:00",
                    "change": "update", "object_uri": _uri("srcA", k),
                    "payload": _doc("srcA", k, f"A{k}-v{j}"),
                }) + "\n")
            seq += 1
            f.write(json.dumps({
                "seq": seq, "end_time": f"2026-02-0{j + 1}T10:00:00",
                "change": "delete", "object_uri": _uri("srcA", 30 + j),
                "payload": None,
            }) + "\n")
        os.utime(p, (1000 + j, 1000 + j))
    return records, indexes, str(feed_dir)


def _merged_rows(spark, state_dir, ckpt):
    from data_pipeline_spark.streaming.entity_stream import latest_state

    out = latest_state(spark, state_dir, ckpt)
    return {
        "records": sorted(
            (r["source"], r["identifier"], r["data"])
            for r in out["records"].collect()
        ),
        "merged": sorted(
            (r["yuid"], r["data"]) for r in out["merged"].collect()
        ),
    }


def test_live_entity_stream_vs_out_of_band_maintenance(spark, tmp_path):
    """The entity-state twin of the index drill: a subprocess loops
    compact_entity_state + the lookup_state SERVING READ (the
    explicitly out-of-band consumer the shared lock exists for) + one
    rebucket_state against the state dir a live stream_entity_builds is
    folding into.  Final folded state must equal the serial run's
    exactly; every mid-stream lookup must serve parseable rows (a torn
    bucket read would fail the parse)."""
    from data_pipeline_spark.streaming.entity_stream import (
        compact_entity_state,
        init_state,
        read_state_meta,
    )

    records, indexes, feed = _entity_fixtures(spark, tmp_path)
    st_c = str(tmp_path / "state_concurrent")
    init_state(spark, records, indexes, st_c, buckets=16)
    st_s = str(tmp_path / "state_serial")
    shutil.copytree(st_c, st_s)

    ck_c = str(tmp_path / "eck_c")
    ready = str(tmp_path / "e_ready")
    stop = str(tmp_path / "e_stop")
    report_path = str(tmp_path / "e_report.json")
    script = tmp_path / "entity_maint.py"
    script.write_text(_ENTITY_MAINT_SCRIPT)
    probe = [_uri("srcA", 0), _uri("srcA", 3), _uri("srcA", 30)]
    from data_pipeline_spark.streaming.entity_stream import (
        stream_entity_builds,
    )

    proc = subprocess.Popen(
        [sys.executable, str(script), st_c, ck_c, ready, stop,
         report_path, REPO, json.dumps(probe)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        while not os.path.exists(ready):
            assert proc.poll() is None, (
                f"entity maintenance process died during startup:\n"
                f"{proc.communicate()[1][-2000:]}"
            )
            assert time.time() < deadline, "maintenance process not ready"
            time.sleep(0.2)
        stream_t0 = time.time()
        q = stream_entity_builds(spark, feed, st_c, ck_c, indexes)
        q.awaitTermination(600)
        stream_t1 = time.time()
    finally:
        with open(stop, "w") as f:
            f.write("1")
        try:
            proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            proc.kill()
            raise
    report = json.load(open(report_path))
    assert report["error"] is None, report["error"]
    assert proc.returncode == 0
    assert report["compactions"] >= 1 and report["lookups"] >= 1
    overlapping = [
        e for e in report["events"]
        if e["t0"] < stream_t1 and e["t1"] > stream_t0
    ]
    assert overlapping, (
        f"no maintenance op overlapped the stream "
        f"[{stream_t0:.1f}, {stream_t1:.1f}]: {report['events']}"
    )
    compact_entity_state(spark, st_c, ck_c)

    ck_s = str(tmp_path / "eck_s")
    q = stream_entity_builds(spark, feed, st_s, ck_s, indexes)
    q.awaitTermination(600)
    compact_entity_state(spark, st_s, ck_s)

    got = _merged_rows(spark, st_c, ck_c)
    want = _merged_rows(spark, st_s, ck_s)
    assert got == want
    assert len(got["records"]) == 36  # 40 - 4 deletes
    # every tier's base carries its own meta, at the init count or the
    # mid-run rebucket's
    meta = read_state_meta(st_c)
    assert all(m is not None and m["buckets"] in (16, 32)
               for m in meta.values()), meta
