"""CLI surface (data_pipeline_spark/cli.py): the shell-script entry point
a reference user drives the pipeline with.  Commands chain through the
filesystem (parquet tiers in, parquet tiers out) like the reference's
phase scripts chain through its caches — each test runs main(argv)
in-process against tmp dirs and asserts the on-disk contract."""

from __future__ import annotations

import json
import os

import pytest

from data_pipeline_spark.cli import main

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fixture_dirs(spark, tmp_path_factory):
    """Family-B fixture tables written to parquet, CLI-style."""
    from data_pipeline_spark.pipeline.fixtures import fixture_tables

    d = tmp_path_factory.mktemp("cli_in")
    t = fixture_tables(spark)
    paths = {}
    for name in ("records", "name_index", "uri_index", "same_as",
                 "different_from", "idmap_prev"):
        p = str(d / f"{name}.parquet")
        t[name].write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def test_cli_build_writes_tiers(spark, fixture_dirs, tmp_path):
    out = str(tmp_path / "build")
    rc = main([
        "build",
        "--records", fixture_dirs["records"],
        "--name-index", fixture_dirs["name_index"],
        "--uri-index", fixture_dirs["uri_index"],
        "--same-as", fixture_dirs["same_as"],
        "--different-from", fixture_dirs["different_from"],
        "--idmap-prev", fixture_dirs["idmap_prev"],
        "--out", out,
        "--tiers", "merged,idmap,edges",
    ])
    assert rc == 0
    merged = spark.read.parquet(os.path.join(out, "merged.parquet"))
    idmap = spark.read.parquet(os.path.join(out, "idmap.parquet"))
    edges = spark.read.parquet(os.path.join(out, "edges.parquet"))
    # the golden fixture counts (tests/test_pipeline.py pins the same)
    assert merged.count() == 15
    assert idmap.count() == 22
    assert edges.count() == 22


def test_cli_absent_indexes_are_statically_empty(spark, fixture_dirs):
    """A build without --name-index, --uri-index, --same-as or
    --different-from gets provably-empty indexes, so reconcile elides
    their joins as it does for the gates; a named one is read."""
    from data_pipeline_spark.cli import _load_indexes, build_parser
    from data_pipeline_spark.pipeline.reconcile import _statically_empty

    args = build_parser().parse_args(
        ["build", "--records", fixture_dirs["records"], "--out", "unused",
         "--same-as", fixture_dirs["same_as"]]
    )
    indexes = _load_indexes(spark, args)
    assert {k: _statically_empty(df) for k, df in indexes.items()} == {
        "name_index": True, "uri_index": True, "same_as": False, "different_from": True,
    }


def test_cli_incremental_splices(spark, fixture_dirs, tmp_path):
    from data_pipeline_spark.pipeline.fixtures import build_changes

    full = str(tmp_path / "full")
    assert main([
        "build",
        "--records", fixture_dirs["records"],
        "--out", full, "--tiers", "merged,idmap",
    ]) == 0
    changes = str(tmp_path / "changes.parquet")
    spark.createDataFrame(
        build_changes(),
        "seq bigint, end_time string, change string, object_uri string, payload string",
    ).selectExpr(
        "seq", "CAST(end_time AS timestamp) AS end_time", "change",
        "object_uri", "payload",
    ).write.parquet(changes)
    out = str(tmp_path / "inc")
    assert main([
        "incremental",
        "--records", fixture_dirs["records"],
        "--changes", changes,
        "--idmap-prev", os.path.join(full, "idmap.parquet"),
        "--prev-merged", os.path.join(full, "merged.parquet"),
        "--last-harvest", "2026-01-15T00:00:00",
        "--out", out,
    ]) == 0
    merged = spark.read.parquet(os.path.join(out, "merged.parquet"))
    labels = {
        json.loads(r["data"]).get("_label") for r in merged.collect()
    }
    assert "Rembrandt van Rijn (updated)" in labels   # seq-1 update applied
    assert "New Person" in labels                      # create applied
    assert "Theo van Gogh" not in labels               # delete applied


def test_cli_query_stdout_and_parquet(spark, tmp_path, capsys):
    assert main([
        "query", "--name", "q01_pricing_summary", "--sf-dir", SF,
    ]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
            if x.startswith("{")]
    assert rows and "l_returnflag" in rows[0]

    out = str(tmp_path / "q01.parquet")
    assert main([
        "query", "--name", "q01_pricing_summary", "--sf-dir", SF, "--out", out,
    ]) == 0
    assert spark.read.parquet(out).count() == len(rows)


def test_cli_query_unknown_name_errors():
    with pytest.raises(SystemExit):
        main(["query", "--name", "nope", "--sf-dir", SF])


def test_cli_search_string_and_json(capsys):
    assert main([
        "search", "--sf-dir", SF,
        "--query", 'AND(type=customer, in_nation(name="NATION_7"))',
    ]) == 0
    ids = {json.loads(x)["id"] for x in capsys.readouterr().out.strip().splitlines()
           if x.startswith("{")}
    assert ids and all(i.startswith("customer:") for i in ids)

    assert main([
        "search", "--sf-dir", SF, "--json",
        "--query", json.dumps({"AND": [{"type": "customer"},
                                        {"in_nation": {"name": "NATION_7"}}]}),
    ]) == 0
    ids_json = {json.loads(x)["id"] for x in capsys.readouterr().out.strip().splitlines()
                if x.startswith("{")}
    assert ids_json == ids


def test_cli_search_persisted_model(tmp_path, capsys):
    """--model --materialize writes the parquet search model once; a
    second invocation loads it (no rebuild) and returns the same ids."""
    model = str(tmp_path / "model")
    q = 'AND(type=customer, in_nation(name="NATION_7"))'
    assert main([
        "search", "--sf-dir", SF, "--query", q,
        "--model", model, "--materialize",
    ]) == 0
    first = {json.loads(x)["id"] for x in capsys.readouterr().out.strip().splitlines()
             if x.startswith("{")}
    assert main([
        "search", "--sf-dir", SF, "--query", q, "--model", model,
    ]) == 0
    again = {json.loads(x)["id"] for x in capsys.readouterr().out.strip().splitlines()
             if x.startswith("{")}
    assert first and again == first


_LOAD_IN_FRESH_INTERPRETER = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from data_pipeline_spark.plans.model import load_planner
from data_pipeline_spark.plans.planner import SearchPlanner
from data_pipeline_spark.session import get_spark

model = sys.argv[2]
spark = get_spark("fresh_loader", cpus=2)
with open(os.path.join(model, "_META.json")) as f:
    spark.conf.set("spark.sql.shuffle.partitions", str(json.load(f)["buckets"]))
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
planner = load_planner(spark, model)
flat = SearchPlanner(
    spark.read.parquet(model + "/entities"),
    spark.read.parquet(model + "/edges_subj"),
    edges_object_keyed=spark.read.parquet(model + "/edges_obj"),
)

def shape(p, q):
    plan = p.plan(q)._jdf.queryExecution().executedPlan().toString()
    n = sum(1 for line in plan.splitlines()
            if line.lstrip(" :+-*(").startswith("Exchange"))
    return n, "Bucketed: true" in plan

out = {}
for q in ('AND(type=customer, in_nation(name="NATION_7"))',
          "^placed_by(AND(type=order, number>100))"):
    (nb, bucketed), (nf, _) = shape(planner, q), shape(flat, q)
    out[q] = {"bucketed": bucketed, "exchanges": nb, "flat_exchanges": nf,
              "ids": sorted(r.id for r in planner.plan(q).collect())}
print("RESULT " + json.dumps(out))
spark.stop()
"""


def test_cli_persisted_model_is_bucketed_in_a_fresh_interpreter(tmp_path, capsys):
    """`search --model DIR --materialize` persists the bucketed form: a
    fresh interpreter, whose catalog has never seen the tables,
    re-registers them with load_planner, and a forward and an inverse
    hop each read a bucketed edge scan with no Exchange of its own (one
    fewer than the same files read as plain parquet)."""
    import subprocess
    import sys

    model = str(tmp_path / "model")
    q = 'AND(type=customer, in_nation(name="NATION_7"))'
    assert main([
        "search", "--sf-dir", SF, "--query", q,
        "--model", model, "--materialize",
    ]) == 0
    written = {json.loads(x)["id"] for x in capsys.readouterr().out.strip().splitlines()
               if x.startswith("{")}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": repo}
    proc = subprocess.run(
        [sys.executable, "-c", _LOAD_IN_FRESH_INTERPRETER, repo, model],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path), env=env,
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    hops = json.loads(lines[0][len("RESULT "):])
    for hop, got in hops.items():
        assert got["bucketed"], hop
        assert got["exchanges"] == got["flat_exchanges"] - 1, (hop, got)
        assert got["ids"], hop
    assert set(hops[q]["ids"]) == written


def test_cli_export_jsonl(spark, fixture_dirs, tmp_path):
    out = str(tmp_path / "exp")
    assert main([
        "export", "--input", fixture_dirs["records"],
        "--format", "jsonl", "--out", out, "--shards", "2",
    ]) == 0
    back = spark.read.json(out)
    assert back.count() == spark.read.parquet(fixture_dirs["records"]).count()


def test_cli_list(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "b01_entity_build" in out


def test_cli_query_table_override(spark, tmp_path, capsys):
    """--table name=path points a declared query at the user's OWN
    corpus: d01 over a custom documents parquet with a planted exact
    duplicate must report exactly that duplicate group."""
    docs = str(tmp_path / "mydocs.parquet")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "unique text")],
        "doc_id bigint, text string",
    ).write.parquet(docs)
    assert main([
        "query", "--name", "d01_dedup_exact",
        "--table", f"documents={docs}",
    ]) == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
            if x.startswith("{")]
    # d01 unions a re-keyed every-20th-doc branch; for these ids that
    # adds no copies, so the only group is the planted (1, 2) pair
    assert len(rows) == 1 and rows[0]["keeper_doc_id"] == 1 and rows[0]["n_copies"] == 2


@pytest.mark.slow  # full-coverage tier (r16 split): fast siblings cover the surface
def test_cli_curate_writes_ordered_shards(spark, tmp_path):
    out = str(tmp_path / "shards")
    assert main([
        "curate", "--sf-dir", SF, "--out", out, "--n-shards", "4",
    ]) == 0
    shards = spark.read.parquet(out)
    assert {r.shard for r in shards.select("shard").distinct().collect()} <= set(range(4))
    n = shards.count()
    assert n > 0
    # every (shard, pos) unique and dense from 1 per shard
    import pyspark.sql.functions as F

    per = shards.groupBy("shard").agg(
        F.count("*").alias("c"), F.max("pos").alias("mx"),
        F.countDistinct("pos").alias("d"),
    ).collect()
    assert all(r.c == r.mx == r.d for r in per)


def test_cli_stream_refresh_end_to_end(spark, tmp_path):
    """stream-refresh with --init-corpus and --compact: the base corpus
    is indexed, a crawl is judged against it, and committed folds
    compact into batch=base."""
    from data_pipeline_spark.queries.dedup import _D48_W

    words = " ".join(f"mesa{i:02d}" for i in range(22))
    base = str(tmp_path / "base.parquet")
    spark.createDataFrame([(1, _D48_W)], "doc_id bigint, text string").write.parquet(base)

    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "c0.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 10, "text": _D48_W}) + "\n")
        f.write(json.dumps({"doc_id": 11, "text": words}) + "\n")

    idx = str(tmp_path / "idx")
    verd = str(tmp_path / "verd")
    assert main([
        "stream-refresh", "--feed", str(feed), "--index", idx,
        "--verdicts", verd, "--checkpoint", str(tmp_path / "ck"),
        "--init-corpus", base, "--compact",
    ]) == 0
    got = {r.doc_id: r.reason for r in spark.read.parquet(verd).collect()}
    assert got == {10: "in_prev_build", 11: "admitted"}
    # compaction folded the crawl's partitions into base
    assert sorted(os.listdir(os.path.join(idx, "fp"))) == ["batch=base"]


@pytest.mark.slow  # full-coverage tier (r16 split): fast siblings cover the surface
def test_cli_stream_entity_end_to_end(spark, tmp_path, capsys):
    """stream-entity with --init-records, --compact and --export-merged:
    init builds v=base, one crawl streams as a delta, compaction folds
    it into base, and the exported parquet is the FOLDED merged view a
    downstream reader consumes (the delta state layout is merge-on-read,
    so raw state dirs are not directly readable)."""

    def doc(src, k, label):
        return json.dumps(
            {"id": f"https://fixture.test/{src}/{k}", "type": "Person",
             "_label": label}
        )

    recs = str(tmp_path / "recs.parquet")
    spark.createDataFrame(
        [("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
          doc("srcA", k, f"A{k}")) for k in range(4)],
        "source string, identifier string, rectype string, record_time string, change string, data string",
    ).write.parquet(recs)

    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "c0.jsonl", "w") as f:
        f.write(json.dumps(
            {"seq": 1, "end_time": "2026-02-01T00:00:00", "change": "update",
             "object_uri": "https://fixture.test/srcA/2",
             "payload": doc("srcA", 2, "A2-v2")}) + "\n")

    state = str(tmp_path / "state")
    exported = str(tmp_path / "merged_out")
    assert main([
        "stream-entity", "--feed", str(feed), "--state", state,
        "--checkpoint", str(tmp_path / "ck"), "--init-records", recs,
        "--compact", "--export-merged", exported,
    ]) == 0
    # compaction folded the crawl's delta into base
    assert sorted(os.listdir(os.path.join(state, "merged"))) == ["v=base"]
    labels = {json.loads(r["data"])["_label"]
              for r in spark.read.parquet(exported).collect()}
    assert labels == {"A0", "A1", "A2-v2", "A3"}

    # state-lookup: the keyed serving read over the bucketed base
    assert main([
        "state-lookup", "--state", state, "--checkpoint",
        str(tmp_path / "ck"), "--key", "https://fixture.test/srcA/2",
    ]) == 0
    out = capsys.readouterr().out
    looked = [json.loads(line) for line in out.splitlines()
              if line.startswith("{")]
    assert len(looked) == 1
    assert json.loads(looked[0]["data"])["_label"] == "A2-v2"

    # state-stats: operator summary without a Spark session
    assert main([
        "state-stats", "--state", state, "--checkpoint", str(tmp_path / "ck"),
    ]) == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["tiers"]["merged"]["layout"] == "bucketed"
    assert stats["committed_delta_fanin"] == 0  # everything compacted
    assert stats["tiers"]["merged"]["delta_dirs"] == 0
    assert stats["tiers"]["merged"]["base_bytes"] > 0


def test_cli_stream_entity_undrained_skips_export(spark, tmp_path, monkeypatch, capsys):
    """rc 3 (undrained feed) must NOT be accompanied by a fresh partial
    --export-merged / --compact (ADVICE r12): a downstream consumer keyed
    on the export dir's existence would read the partial fold as the
    complete merged view."""
    import data_pipeline_spark.cli as cli

    def doc(src, k, label):
        return json.dumps(
            {"id": f"https://fixture.test/{src}/{k}", "type": "Person",
             "_label": label}
        )

    recs = str(tmp_path / "recs.parquet")
    spark.createDataFrame(
        [("srcA", "0", "Person", "2026-01-01T00:00:00", "create",
          doc("srcA", 0, "A0"))],
        "source string, identifier string, rectype string, record_time string, change string, data string",
    ).write.parquet(recs)
    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "c0.jsonl", "w") as f:
        f.write(json.dumps(
            {"seq": 1, "end_time": "2026-02-01T00:00:00", "change": "update",
             "object_uri": "https://fixture.test/srcA/0",
             "payload": doc("srcA", 0, "A0-v2")}) + "\n")

    monkeypatch.setattr(cli, "_await_drained", lambda q, timeout: (q.stop(), False)[1])
    exported = str(tmp_path / "merged_out")
    rc = cli.main([
        "stream-entity", "--feed", str(feed), "--state",
        str(tmp_path / "state"), "--checkpoint", str(tmp_path / "ck"),
        "--init-records", recs, "--compact", "--export-merged", exported,
    ])
    assert rc == 3
    assert not os.path.exists(exported)  # no partial export written
    assert "skipping --compact/--export-merged" in capsys.readouterr().err


def test_cli_await_drained_stops_undrained_stream(capsys):
    """awaitTermination(timeout) returning False means the stream is
    STILL RUNNING — the helper must stop it (so --compact never races a
    live stream), warn, and report undrained (ADVICE r11)."""
    from data_pipeline_spark.cli import _await_drained

    class FakeQuery:
        def __init__(self):
            self.stopped = False
            self.calls = 0

        def awaitTermination(self, timeout=None):
            self.calls += 1
            if timeout is not None:
                return False  # timed out, query live
            assert self.stopped, "blocking await only after stop()"
            return True

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    assert _await_drained(q, 0.1) is False
    assert q.stopped and q.calls == 2
    assert "WARNING" in capsys.readouterr().err

    class DrainedQuery:
        def awaitTermination(self, timeout=None):
            return True

        def stop(self):  # pragma: no cover - must not be called
            raise AssertionError("drained stream must not be stopped")

    assert _await_drained(DrainedQuery(), 5) is True


def test_cli_verify_and_explain(capsys):
    assert main([
        "verify", "--sf-dir", SF,
        "--name", "q01_pricing_summary", "--name", "d01_dedup_exact",
    ]) == 0
    out = capsys.readouterr().out
    assert out.count("\tOK\t") == 2 and "2 queries verified" in out

    assert main([
        "explain", "--name", "q01_pricing_summary", "--sf-dir", SF,
    ]) == 0
    out = capsys.readouterr().out
    assert "HashAggregate" in out and "Exchange" in out


def test_cli_verify_reports_failure(tmp_path, spark, capsys):
    """A corpus override that breaks a query's oracle contract must exit
    nonzero with the offending query named."""
    # documents with a doc_id high enough to collide with d01's
    # re-keying (+1_000_000) — the spark side then disagrees with the
    # oracle? No: both sides share the collision. Instead, verify a
    # query against the WRONG table content by overriding documents
    # with customer-shaped data so the query itself errors.
    docs = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(1, "x")], "wrong_col bigint, alsowrong string").write.parquet(docs)
    with pytest.raises(Exception):
        main(["verify", "--table", f"documents={docs}",
              "--name", "d01_dedup_exact"])


def test_cli_merge_order_rejects_garbage():
    with pytest.raises(SystemExit):
        main(["build", "--records", "x", "--out", "y",
              "--merge-order", "notanumber"])


def test_cli_merge_order_rejects_double_minus():
    """'src=--5' used to slip past the isdigit guard (lstrip('-')) and
    blow up as an unhandled int() ValueError — it must take the same
    clean SystemExit path as any other malformed priority (ADVICE r11)."""
    for bad in ("src=--5", "src=- 5", "src=", "=5"):
        with pytest.raises(SystemExit):
            main(["build", "--records", "x", "--out", "y",
                  "--merge-order", bad])


def test_cli_merge_order_accepts_negative():
    from data_pipeline_spark.cli import _parse_merge_order

    assert _parse_merge_order("a=-5, b=2") == {"a": -5, "b": 2}


def test_cli_verify_unknown_name_beyond_first_slice_errors():
    """--first must not mask an unknown --name: validation happens on the
    full requested list, before truncation (ADVICE r11)."""
    with pytest.raises(SystemExit, match="no_such_query"):
        main(["verify", "--sf-dir", SF, "--first", "1",
              "--name", "q01_pricing_summary", "--name", "no_such_query"])


@pytest.mark.slow  # full-coverage tier (r16 split): fast siblings cover the surface
def test_cli_state_export_as_of_batch(spark, tmp_path):
    """state-export time travel: after two streamed crawls, --as-of-batch 0
    reads the state with only crawl 0 applied; the default reads latest.
    The delta layout gives this for free (base + committed deltas <= K);
    history reaches back to the last compaction."""
    import time as _time

    def doc(k, label):
        return json.dumps(
            {"id": f"https://fixture.test/srcA/{k}", "type": "Person",
             "_label": label}
        )

    recs = str(tmp_path / "recs.parquet")
    spark.createDataFrame(
        [("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
          doc(k, f"A{k}")) for k in range(3)],
        "source string, identifier string, rectype string, record_time string, change string, data string",
    ).write.parquet(recs)

    feed = tmp_path / "feed"
    feed.mkdir()
    now = _time.time()
    for i in range(2):
        p = feed / f"c{i}.jsonl"
        with open(p, "w") as f:
            f.write(json.dumps(
                {"seq": i, "end_time": f"2026-02-0{i+1}T00:00:00",
                 "change": "update",
                 "object_uri": f"https://fixture.test/srcA/{i}",
                 "payload": doc(i, f"A{i}-c{i}")}) + "\n")
        os.utime(p, (now + i, now + i))

    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    assert main([
        "stream-entity", "--feed", str(feed), "--state", state,
        "--checkpoint", ck, "--init-records", recs,
    ]) == 0

    def labels(out):
        return sorted(json.loads(r["data"])["_label"]
                      for r in spark.read.parquet(out).collect())

    asof0 = str(tmp_path / "asof0")
    latest = str(tmp_path / "latest")
    assert main(["state-export", "--state", state, "--checkpoint", ck,
                 "--out", asof0, "--as-of-batch", "0"]) == 0
    assert main(["state-export", "--state", state, "--checkpoint", ck,
                 "--out", latest]) == 0
    assert labels(asof0) == ["A0-c0", "A1", "A2"]
    assert labels(latest) == ["A0-c0", "A1-c1", "A2"]


def test_cli_stream_lm_end_to_end(spark, tmp_path):
    """stream-lm with --init-ref: the reference LM + cutoffs persist,
    one crawl streams through the scoring stage, and the output carries
    a bucket for every doc.  The fluent doc (pure reference bigrams)
    must outscore the garbage one (tokens the LM never saw), and the
    reference docs themselves must split across head/middle/tail (the
    cutoffs are their own terciles)."""
    ref_rows = [
        (i, "en", "the quick brown fox jumps over the lazy dog " * (i + 1))
        for i in range(6)
    ]
    base = str(tmp_path / "ref.parquet")
    spark.createDataFrame(
        ref_rows, "doc_id bigint, lang string, text string"
    ).write.parquet(base)

    feed = tmp_path / "feed"
    feed.mkdir()
    with open(feed / "c0.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 100, "lang": "en",
                            "text": "the quick brown fox jumps"}) + "\n")
        f.write(json.dumps({"doc_id": 101, "lang": "en",
                            "text": "zzq qqz xxj jjx wwk kkw"}) + "\n")
        f.write(json.dumps({"doc_id": 102, "lang": "en",
                            "text": "single"}) + "\n")

    idx = str(tmp_path / "lm_idx")
    out = str(tmp_path / "bucketed")
    assert main([
        "stream-lm", "--feed", str(feed), "--index", idx, "--out", out,
        "--checkpoint", str(tmp_path / "ck"), "--init-ref", base,
    ]) == 0
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {100, 101, 102}
    assert got[100].fluency_fp > got[101].fluency_fp
    assert got[102].lm_bucket == "unscored" and got[102].fluency_fp == -1
    assert got[100].lm_bucket in ("head", "middle", "tail")
    # lm-index alone is the same init (idempotent overwrite)
    assert main(["lm-index", "--ref-corpus", base, "--index", idx]) == 0
    cuts = {r.lang: r for r in spark.read.parquet(
        os.path.join(idx, "lm", "cuts")).collect()}
    assert cuts["en"].head_min >= cuts["en"].mid_min
