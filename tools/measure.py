#!/usr/bin/env python
"""One measurement harness, on the engine's own session.

    python tools/measure.py queries NAME... [--sf DIR] [--reps N] [--action count|noop]
    python tools/measure.py build --sf DIR [--crawl N] [--reps N]
    python tools/measure.py plans NAME... [--sf DIR] [--out DIR]
    python tools/measure.py queries b01_entity_build --sf DIR --reps 10 --against HEAD~1

Every scenario runs on ``data_pipeline_spark.session.get_spark``, so
SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM and the engine's base confs apply
exactly as in bench.py, the tests and the CLI.  The harness adds only
Spark's event log (uncompressed, in a temporary directory removed at
exit), which ``entitybench.trace.fold_event_log`` folds into per-rep
jobs, tasks, executor time, shuffle write, spill and GC, and turns the
console progress bar off.  bench.py supplies the warm-up and both
canaries; ``--sf`` defaults to $SPARK_GRAFT_SF_DIR as in bench.py.
Each run prints one JSON line.

- ``queries`` times declared queries in whole passes, the dedup tiers
  dropped from the session memo between passes (``clear_tier_cache``,
  bench.py's rule), to ``count`` (bench.py's action) or to the ``noop``
  sink (every column computed).
- ``build`` calls ``run_build`` on b01's pair corpus (``build_gate.
  _pair_records``) and forces the export tiers; ``--crawl N`` then calls
  ``incremental_build`` with an N-change feed and forces the spliced
  tier.  Domain counters are read off the returned tiers after the
  timed region.
- ``plans`` reports each query's plan signature (``plan_signature``: the
  counts of the SIG_OPS operators in its physical plan, the rule
  tests/plan_snapshots.json is written with), and with ``--out`` writes
  the formatted plans; it runs no action itself.
- ``--against REV`` runs each rep as two subprocesses, one importing the
  engine package and bench.py from REV (extracted with ``git archive``)
  and one from this checkout, alternating which runs first, so each side
  warms up with its own ``bench.warm_up``.  A REV without bench.py takes
  this checkout's, and entitybench always loads from this checkout, so
  REV may predate this file.  The output gives both rep vectors, wins
  per pair, both medians and quartiles, and the parent's inter-quartile
  range.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the engine and bench.py come from PYTHONPATH when it names them (the
# --against sides, which hold the engine package and the revision's own
# bench.py), else from this checkout; entitybench exists only here.  Bind
# the engine before bench.py puts its own directory first on sys.path.
sys.path.append(ROOT)
import data_pipeline_spark.queries  # noqa: E402,F401

import bench  # noqa: E402
from entitybench.trace import GROUP_PREFIX, Tracer, event_log_path, fold_event_log  # noqa: E402

ENGINE = os.path.dirname(os.path.dirname(os.path.abspath(data_pipeline_spark.__file__)))
BENCH = os.path.dirname(os.path.abspath(bench.__file__))

# operators whose per-plan counts are a plan's shape: a join flipping
# between sort-merge and broadcast, an added shuffle or a lost partial
# aggregate each change the signature
SIG_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "BroadcastExchange",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "Window",
    "TakeOrderedAndProject",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "Generate",
)
# an operator line starts with the operator's name after the tree glyphs
# (and a codegen stage id); "Exchange" does not match "BroadcastExchange"
_OP_LINE = re.compile(r"^[\s:+*()\d-]*(\w+)")
MERGE_ORDER = {"srcA": 0, "srcB": 1, "srcN": 2}


def _canaries(spark) -> dict[str, float]:
    return {"spin": bench._spin_canary(), "spark": bench._spark_canary(spark)}


def _median(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


def _timed(tr: Tracer, spark, label: str, fn) -> tuple[float, int]:
    """Wall and job count of ``fn()`` run under the job group of span ``label``."""
    with tr.span(label):
        t0 = time.perf_counter()
        fn()
        wall = round(time.perf_counter() - t0, 3)
    return wall, len(spark.sparkContext.statusTracker().getJobIdsForGroup(GROUP_PREFIX + label))


def _report(spark, scenario: str, walls: dict, jobs: dict, canaries: dict,
            events: str | None, **extra) -> dict:
    fold = None
    if events:
        # the listener bus is asynchronous: drain it before reading the log
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        folded = fold_event_log(event_log_path(events, spark.sparkContext.applicationId))
        fold = {k: [{m: round(v, 3) for m, v in folded[f"{k}.rep{i}"].items()}
                    for i in range(len(v))] for k, v in walls.items()}
    return {"scenario": scenario, "engine": ENGINE, "bench": BENCH, "reps": walls,
            "median": {k: _median(v) for k, v in walls.items()}, "jobs": jobs,
            "canary_spin_sec": {e: c["spin"] for e, c in canaries.items()},
            "canary_spark_sec": {e: c["spark"] for e, c in canaries.items()},
            "fold": fold, **extra}


def run_queries(spark, names: list[str], sf: str, reps: int = 3, action: str = "count",
                events: str | None = None) -> dict:
    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries.dedup import clear_tier_cache

    fns = {n: QUERIES[n].spark_fn for n in names}
    bench.warm_up(spark, sf)
    canaries = {"start": _canaries(spark)}
    tr = Tracer(spark)
    walls: dict[str, list[float]] = {n: [] for n in names}
    jobs: dict[str, list[int]] = {n: [] for n in names}

    def run(fn):
        df = fn(spark, sf)
        if action == "count":
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()

    for rep in range(reps):
        if rep:
            clear_tier_cache()
        for n, fn in fns.items():
            wall, n_jobs = _timed(tr, spark, f"{n}.rep{rep}", lambda: run(fn))
            walls[n].append(wall)
            jobs[n].append(n_jobs)
    canaries["end"] = _canaries(spark)
    return _report(spark, "queries", walls, jobs, canaries, events, sf=sf, action=action)


def _changes(spark, sf: str, n: int):
    """A fixed crawl feed over the n lowest custkeys of b01's pair corpus:
    k % 4 == 2 deletes srcA_k, k % 4 == 3 creates srcN_k linked to srcA_k,
    the rest relabel srcA_k."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.catalog import load_table

    k = F.col("c_custkey")
    ks = k.cast("string")
    uri = {s: F.concat(F.lit(f"https://fixture.test/{s}/"), ks) for s in ("srcA", "srcB", "srcN")}

    def doc(src: str, label: str, link: str):
        return F.to_json(F.struct(
            uri[src].alias("id"), F.lit("Person").alias("type"),
            F.concat(F.lit(label), ks).alias("_label"),
            F.array(F.struct(uri[link].alias("id"), F.lit("Person").alias("type"))).alias("equivalent")))

    m = k % 4
    return load_table(spark, sf, "customer").orderBy(k).limit(n).select(
        k.alias("seq"),
        F.lit("2026-02-01T00:00:00").cast("timestamp").alias("end_time"),
        F.when(m == 2, "delete").when(m == 3, "create").otherwise("update").alias("change"),
        F.when(m == 3, uri["srcN"]).otherwise(uri["srcA"]).alias("object_uri"),
        F.when(m == 3, doc("srcN", "New ", "srcA")).when(m != 2, doc("srcA", "Updated ", "srcB"))
        .alias("payload"))


def run_build_scenario(spark, sf: str, crawl: int = 0, reps: int = 1,
                       events: str | None = None) -> dict:
    from data_pipeline_spark.catalog import empty_indexes
    from data_pipeline_spark.pipeline import build, incremental
    from data_pipeline_spark.queries.build_gate import _pair_records

    indexes = empty_indexes(spark)
    records = _pair_records(spark, sf).localCheckpoint()
    changes = _changes(spark, sf, crawl).localCheckpoint() if crawl else None
    bench.warm_up(spark, sf)
    canaries = {"start": _canaries(spark)}
    tr = Tracer(spark)
    steps = ("run_build", "incremental_build") if crawl else ("run_build",)
    walls: dict[str, list[float]] = {s: [] for s in steps}
    jobs: dict[str, list[int]] = {s: [] for s in steps}
    out: dict = {}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def full():
        out["build"] = build.run_build(spark, records, indexes, merge_order=MERGE_ORDER)
        for tier in ("edges", "facets", "names"):
            noop(out["build"][tier])

    def crawl_once():
        b = out["build"]
        out["crawl"] = incremental.incremental_build(
            spark, records, changes, indexes, idmap_prev=b["idmap"],
            prev_merged=b["merged"], merge_order=MERGE_ORDER)
        noop(out["crawl"]["merged_full"])

    for rep in range(reps):
        for step, fn in zip(steps, (full, crawl_once)):
            wall, n_jobs = _timed(tr, spark, f"{step}.rep{rep}", fn)
            walls[step].append(wall)
            jobs[step].append(n_jobs)
    canaries["end"] = _canaries(spark)
    b = out["build"]
    counters = {
        "records": tr.count(records),
        "equiv_edges": tr.count(b["equiv_edges"]),
        "components": tr.count(b["idmap"].select("yuid").distinct()),
        "largest_group": tr.max_group(b["reidentified"], "yuid"),
        "merged": tr.count(b["merged"]),
        "edges_rows": tr.count(b["edges"]),
    }
    if crawl:
        counters.update(changes=tr.count(changes), merged_after_crawl=tr.count(out["crawl"]["merged_full"]))
    return _report(spark, "build", walls, jobs, canaries, events, sf=sf, counters=counters)


def plan_signature(plan: str) -> dict[str, int]:
    """Counts of the SIG_OPS operators among a plan string's lines."""
    counts: dict[str, int] = {}
    for line in plan.splitlines():
        m = _OP_LINE.match(line)
        if m and m.group(1) in SIG_OPS:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


def run_plans(spark, names: list[str], sf: str, out_dir: str | None = None) -> dict:
    from data_pipeline_spark.queries import QUERIES

    counts = {}
    for n in names:
        qe = QUERIES[n].spark_fn(spark, sf)._jdf.queryExecution()
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{n}.txt"), "w") as f:
                f.write(spark.sparkContext._jvm.PythonSQLUtils.explainString(qe, "formatted"))
        counts[n] = plan_signature(qe.executedPlan().toString())
    return {"scenario": "plans", "sf": sf, "ops": counts}


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3
    return [round(q, 3) for q in statistics.quantiles(xs, n=4, method="inclusive")]


def run_against(rev: str, argv: list[str], pairs: int) -> dict:
    """``pairs`` pairs of one-rep subprocesses, parent engine vs this checkout."""
    parent = tempfile.mkdtemp(prefix="measure_rev_")
    try:
        own_bench = subprocess.run(["git", "-C", ROOT, "cat-file", "-e", f"{rev}:bench.py"],
                                   capture_output=True).returncode == 0
        paths = ["data_pipeline_spark", *(["bench.py"] if own_bench else [])]
        archive = subprocess.run(["git", "-C", ROOT, "archive", rev, *paths],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        sides = {"parent": parent, "current": ROOT}
        benches = {"parent": parent if own_bench else ROOT, "current": ROOT}
        reps = {s: {} for s in sides}
        canaries = {s: [] for s in sides}
        for i in range(pairs):
            for side in (("parent", "current") if i % 2 == 0 else ("current", "parent")):
                env = dict(os.environ, PYTHONPATH=sides[side])
                proc = subprocess.run([sys.executable, os.path.abspath(__file__), *argv, "--reps", "1"],
                                      env=env, check=True, stdout=subprocess.PIPE, text=True)
                res = json.loads(proc.stdout.strip().splitlines()[-1])
                if (res["engine"], res["bench"]) != (sides[side], benches[side]):
                    raise RuntimeError(f"{side} side imported the engine from {res['engine']}"
                                       f" and bench.py from {res['bench']}")
                for k, v in res["reps"].items():
                    reps[side].setdefault(k, []).extend(v)
                canaries[side].append({"spin": res["canary_spin_sec"], "spark": res["canary_spark_sec"]})
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    out = {}
    for k, p in reps["parent"].items():
        c = reps["current"][k]
        pq = _quartiles(p)
        out[k] = {"parent": p, "current": c,
                  "wins": sum(b < a for a, b in zip(p, c)), "losses": sum(b > a for a, b in zip(p, c)),
                  "median": {"parent": _median(p), "current": _median(c)},
                  "quartiles": {"parent": pq, "current": _quartiles(c)},
                  "parent_iqr": round(pq[2] - pq[0], 3)}
    return {"scenario": argv[0], "against": rev, "pairs": pairs, "results": out, "canaries": canaries}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("scenario", choices=("queries", "build", "plans"))
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="SF directory (default: $SPARK_GRAFT_SF_DIR, as bench.py)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--action", choices=("count", "noop"), default="count")
    ap.add_argument("--crawl", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args(argv)
    if not args.sf:
        ap.error("--sf or SPARK_GRAFT_SF_DIR is required")
    if args.scenario != "build" and not args.names:
        ap.error(f"{args.scenario} needs at least one query name")
    if args.against:
        if args.scenario == "plans":
            ap.error("--against times runs; plans runs nothing")
        child = [args.scenario, *args.names, "--sf", args.sf, "--action", args.action,
                 "--crawl", str(args.crawl)]
        print(json.dumps(run_against(args.against, child, args.reps)))
        return

    from data_pipeline_spark.session import get_spark

    events = tempfile.mkdtemp(prefix="measure_events_")
    confs = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + events,
             "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
             "spark.ui.showConsoleProgress": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    # Python workers import the engine from the same place as the driver
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ENGINE, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("measure")
    try:
        if args.scenario == "queries":
            res = run_queries(spark, args.names, args.sf, args.reps, args.action, events)
        elif args.scenario == "build":
            res = run_build_scenario(spark, args.sf, args.crawl, args.reps, events)
        else:
            res = run_plans(spark, args.names, args.sf, args.out)
        print(json.dumps(res), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(events, ignore_errors=True)


if __name__ == "__main__":
    main()
