"""The traced run: each layer's public function called in the order
``run_build`` / ``incremental_build`` call it, each call wrapped in a span
that sets a Spark job group and ends with an eager checkpoint, then Spark's
event log folded into per-layer counters keyed by those job groups.

Spans are recorded in this file, around the calls into each layer; the
engine is not modified.  The traced chain is a copy of the composite, so
the run checks that both commit the same merged tier.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import functions as F

from . import workloads as W

BUILD_LAYERS = ("envelope", "reconcile", "idmap", "reidentify", "merge_records",
                "edges", "sinks", "incremental")
QUERY_LAYERS = ("queries.dedup", "queries.vector")
STANDARD = ("wall_s", "self_s", "jobs", "tasks", "executor_run_s",
            "shuffle_write_bytes", "spill_bytes", "gc_s")
DOMAIN = ("envelope.records_in", "reconcile.edges_out", "reconcile.name_edges",
          "reconcile.uri_edges", "idmap.components", "idmap.max_component",
          "merge_records.groups", "merge_records.max_group", "edges.rows_out",
          "sinks.bytes_written", "sinks.bytes_per_input_byte", "incremental.blast_uris",
          "incremental.slice_records", "incremental.blast_per_change")
SEARCH = ("plans.parser.ms", "plans.planner.ms", "catalyst.ms", "execute.ms", "execute.jobs")
GROUP_PREFIX = "entitybench:"


def metric_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json declares them."""
    names = [f"{layer}.{m}" for layer in BUILD_LAYERS for m in STANDARD]
    names += DOMAIN + SEARCH
    names += [f"{layer}.{m}" for layer in QUERY_LAYERS for m in ("build_ms", "plan_ms") + STANDARD]
    return names + ["trace.overhead_s"]


def unit_of(name: str) -> str:
    if name.endswith("ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("per_change", "per_input_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


class Tracer:
    """Spans kept in memory, nested by a stack; each span's jobs run under
    the job group ``entitybench:<layer>``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, layer: str):
        s = {"layer": layer, "start": time.perf_counter(), "children": 0.0}
        self.stack.append(s)
        self.sc.setJobGroup(GROUP_PREFIX + layer, layer)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            if self.stack:
                # the enclosing span's self time excludes this interval
                self.stack[-1]["children"] += s["end"] - s["start"]
                self.sc.setJobGroup(GROUP_PREFIX + self.stack[-1]["layer"], self.stack[-1]["layer"])
            else:
                self.sc.setJobGroup(GROUP_PREFIX + "untraced", "untraced")
            self.spans.append(s)

    def count(self, df) -> int:
        """A row count for a domain counter, run outside every layer."""
        return self._counter(df.count)

    def max_group(self, df, key: str) -> int:
        """The largest group's row count, run outside every layer."""
        return self._counter(lambda: int(df.groupBy(key).count().agg(F.max("count")).first()[0] or 0))

    def _counter(self, fn):
        self.sc.setJobGroup(GROUP_PREFIX + "counters", "counters")
        try:
            return fn()
        finally:
            layer = self.stack[-1]["layer"] if self.stack else "untraced"
            self.sc.setJobGroup(GROUP_PREFIX + layer, layer)

    def layer_times(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"wall_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            wall = s["end"] - s["start"]
            out[s["layer"]]["wall_s"] += wall
            out[s["layer"]]["self_s"] += wall - s["children"]
        return out


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Stages -> per-layer counters keyed by the job group of the job that
    submitted them: jobs, tasks, executor run time, shuffle bytes written,
    bytes spilled (memory + disk) and JVM GC time."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STANDARD[2:], 0.0))
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith(GROUP_PREFIX):
                    continue
                layer = group[len(GROUP_PREFIX):]
                out[layer]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        layer = stage_group.get(ev.get("Stage ID"))
        m = ev.get("Task Metrics")
        if layer is None or not m:
            continue
        c = out[layer]
        c["tasks"] += 1
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out


def event_log_path(events_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(events_dir, "**", f"*{app_id}*"), recursive=True)
             if os.path.isfile(p)]
    if not paths:
        raise RuntimeError(f"no event log for {app_id} under {events_dir}")
    return paths[0]


# ------------------------------------------------------------ traced chains

def traced_build(tr: Tracer, spark, records, indexes, idmap_prev=None,
                 merge_order=None, delta_sized=False) -> dict:
    """run_build's chain, one span and one eager checkpoint per layer."""
    from data_pipeline_spark.pipeline.envelope import with_doc
    from data_pipeline_spark.pipeline.idmap import build_idmap
    from data_pipeline_spark.pipeline.merge_records import merge_by_yuid
    from data_pipeline_spark.pipeline.reconcile import reconcile
    from data_pipeline_spark.pipeline.reidentify import reidentify

    with tr.span("envelope"):
        docs = with_doc(records).localCheckpoint()
    tr.counts["envelope.records_in"] += tr.count(docs)
    with tr.span("reconcile"):
        equiv_edges = reconcile(docs, indexes).localCheckpoint()
    tr.counts["reconcile.edges_out"] += tr.count(equiv_edges)
    tr.counts["reconcile.name_edges"] += tr.count(equiv_edges.filter(F.col("provenance") == "name"))
    tr.counts["reconcile.uri_edges"] += tr.count(equiv_edges.filter(F.col("provenance") == "uri"))
    with tr.span("idmap"):
        all_uris = docs.select(
            F.coalesce(F.col("doc.id"), F.concat_ws("/", "source", "identifier")).alias("uri"))
        idmap = build_idmap(equiv_edges, all_uris, idmap_prev, delta_sized).localCheckpoint()
    tr.counts["idmap.components"] += tr.count(idmap.select("yuid").distinct())
    tr.counts["idmap.max_component"] = max(tr.counts["idmap.max_component"], tr.max_group(idmap, "yuid"))
    with tr.span("reidentify"):
        reidentified = reidentify(
            records.select("source", "identifier", "rectype", "data"), idmap).localCheckpoint()
    with tr.span("merge_records"):
        merged = merge_by_yuid(
            reidentified.select("yuid", "source", "identifier", "data"), merge_order).localCheckpoint()
    tr.counts["merge_records.groups"] += tr.count(merged)
    tr.counts["merge_records.max_group"] = max(tr.counts["merge_records.max_group"],
                                               tr.max_group(reidentified, "yuid"))
    return {"equiv_edges": equiv_edges, "idmap": idmap, "reidentified": reidentified,
            "merged": merged}


def traced_export(tr: Tracer, tiers: dict, out: str) -> None:
    """The extraction tiers plus the N-Triples form, then the commits."""
    from data_pipeline_spark.pipeline.edges import (
        extract_edges, extract_facets, extract_names_table, to_ntriples)
    from data_pipeline_spark.pipeline.envelope import with_doc
    from data_pipeline_spark.sinks.exports import export_ntriples, write_parquet_atomic

    with tr.span("edges"):
        merged_docs = with_doc(tiers["merged"]).localCheckpoint()
        tiers["edges"] = extract_edges(merged_docs).localCheckpoint()
        tiers["facets"] = extract_facets(merged_docs).localCheckpoint()
        tiers["names"] = extract_names_table(merged_docs).localCheckpoint()
        to_ntriples(tiers["edges"]).localCheckpoint()
    tr.counts["edges.rows_out"] += tr.count(tiers["edges"])
    with tr.span("sinks"):
        for name in W.BUILD_TIERS:
            write_parquet_atomic(tiers[name], os.path.join(out, f"{name}.parquet"))
        export_ntriples(tiers["edges"], os.path.join(out, "nt"))
    tr.counts["sinks.bytes_written"] += sum(
        W.dir_bytes(os.path.join(out, f"{n}.parquet")) for n in W.BUILD_TIERS
    ) + W.dir_bytes(os.path.join(out, "nt"))


def traced_crawl(tr: Tracer, wl: W.BuildAndCrawl, prior: str, feed_path: str,
                 watermark: str, dst: str) -> None:
    """incremental_build's steps: the feed applied, the blast radius, the
    slice rebuilt through the traced build chain, the splice, the commits.
    The build layers' spans are children of the ``incremental`` span."""
    from data_pipeline_spark.pipeline.incremental import affected_uris, apply_changes_to_records
    from data_pipeline_spark.sinks.exports import write_parquet_atomic

    spark = wl.spark
    records = spark.read.parquet(wl.inputs["records"])
    indexes = W.read_indexes(spark, wl.inputs)
    idmap_prev = spark.read.parquet(os.path.join(prior, "idmap.parquet"))
    prev_merged = spark.read.parquet(os.path.join(prior, "merged.parquet"))
    with tr.span("incremental"):
        changes = spark.read.parquet(feed_path).filter(
            F.col("end_time") > F.lit(watermark).cast("timestamp"))
        new_records = apply_changes_to_records(records, changes)
        blast = affected_uris(changes, idmap_prev, indexes).localCheckpoint()
        slice_prev = (
            records.withColumn("_uri", F.get_json_object(F.col("data"), "$.id"))
            .join(F.broadcast(blast), F.col("_uri") == blast.uri, "left_semi")
            .drop("_uri")
        )
        slice_records = apply_changes_to_records(slice_prev, changes).localCheckpoint()
        rebuilt = traced_build(tr, spark, slice_records, indexes, idmap_prev,
                               W.MERGE_ORDER, delta_sized=True)
        affected_yuids = (
            idmap_prev.join(F.broadcast(blast.select(F.col("uri").alias("qua_uri")).distinct()),
                            "qua_uri")
            .select("yuid").distinct().localCheckpoint()
        )
        untouched = prev_merged.join(F.broadcast(affected_yuids), "yuid", "left_anti").join(
            F.broadcast(rebuilt["merged"].select("yuid")), "yuid", "left_anti")
        tiers = {
            "merged": untouched.unionByName(rebuilt["merged"]),
            "idmap": idmap_prev.join(F.broadcast(affected_yuids), "yuid", "left_anti")
            .unionByName(rebuilt["idmap"].select("qua_uri", "yuid")),
            "records": new_records,
        }
        with tr.span("sinks"):
            for name, df in tiers.items():
                write_parquet_atomic(df, os.path.join(dst, f"{name}.parquet"))
    blast_n = tr.count(blast)
    tr.counts["incremental.blast_uris"] += blast_n
    tr.counts["incremental.slice_records"] += tr.count(slice_records)
    live = tr.count(changes.select("object_uri").distinct())
    tr.counts["incremental.blast_per_change"] = blast_n / live if live else 0.0


def traced_build_and_crawl(tr: Tracer, wl: W.BuildAndCrawl, i: int, root: str) -> None:
    spark = wl.spark
    out, dst = os.path.join(root, "build"), os.path.join(root, "crawl")
    feed_path, watermark = wl.feed(i)
    tiers = traced_build(tr, spark, spark.read.parquet(wl.inputs["records"]),
                         W.read_indexes(spark, wl.inputs), merge_order=W.MERGE_ORDER)
    traced_export(tr, tiers, out)
    # storage amplification of the build: tier and export bytes per byte
    # of input records
    tr.counts["sinks.bytes_per_input_byte"] = (
        tr.counts["sinks.bytes_written"] / os.path.getsize(wl.inputs["records"]))
    traced_crawl(tr, wl, out, feed_path, watermark, dst)


def traced_search_and_curation(tr: Tracer, wl: W.SearchAndCuration, i: int) -> dict:
    """Each search split into parse, DataFrame build, Catalyst planning
    (executedPlan) and execution; each curation query into DataFrame
    build, planning and execution under its family's span."""
    from data_pipeline_spark.plans.parser import Bool, parse, parse_json
    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries.dedup import clear_tier_cache

    phases: dict[str, list[float]] = defaultdict(list)
    sc = wl.spark.sparkContext
    for _, query, _ in wl.searches(i):
        t0 = time.perf_counter()
        ast = None
        if not isinstance(query, tuple):
            ast = parse_json(query) if isinstance(query, dict) else parse(query)
        t1 = time.perf_counter()
        if ast is None:
            df = wl.planner.similar(query[1], number_window=query[2])
        elif isinstance(ast, Bool) and ast.op == "BOOST":
            df = wl.planner.search_scored(ast)
        else:
            df = wl.planner.plan(ast)
        t2 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        sc.setJobGroup(GROUP_PREFIX + "execute", "execute")
        df.collect()
        t4 = time.perf_counter()
        sc.setJobGroup(GROUP_PREFIX + "untraced", "untraced")
        for name, a, b in (("plans.parser.ms", t0, t1), ("plans.planner.ms", t1, t2),
                           ("catalyst.ms", t2, t3), ("execute.ms", t3, t4)):
            phases[name].append((b - a) * 1000)
    clear_tier_cache()
    for name in W.CURATION:
        family = "queries.vector" if name.startswith("v") else "queries.dedup"
        with tr.span(family):
            t0 = time.perf_counter()
            df = QUERIES[name].spark_fn(wl.spark, wl.sf)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.collect()
        tr.counts[f"{family}.build_ms"] += (t1 - t0) * 1000
        tr.counts[f"{family}.plan_ms"] += (t2 - t1) * 1000
    return phases


def merged_hash(out: str) -> str:
    h = hashlib.sha256()
    for yuid, data in sorted(W.merged_rows(out).items()):
        h.update(f"{yuid}\t{data}\n".encode())
    return h.hexdigest()


def run(wl: W.Workload, work: str) -> dict:
    """Set up once, run one untraced operation (cold) and one untraced
    operation (warm), then the traced operation; fold the event log."""
    import statistics

    from .run import log

    wl.setup(0)
    checks = W.Checks()
    attempted = failed = 0
    untraced = []
    for i in range(2):
        attempted += 1
        untraced.append(sum(wl.op(i).values()))
    log(f"untraced ops (s): {[round(t, 2) for t in untraced]}")
    wl.check(checks)
    tr = Tracer(wl.spark)
    attempted += 1
    t = time.perf_counter()
    if isinstance(wl, W.BuildAndCrawl):
        root = os.path.join(work, "traced")
        traced_build_and_crawl(tr, wl, 1, root)
        phases = {}
    else:
        phases = traced_search_and_curation(tr, wl, 1)
    traced = time.perf_counter() - t
    log(f"traced op {traced:.2f} s")
    if isinstance(wl, W.BuildAndCrawl):
        # the traced copy must commit what the composite committed for op 1
        checks.expect(merged_hash(os.path.join(root, "build")) == merged_hash(wl.last[0]),
                      "traced build's merged tier differs from the composite's")
        checks.expect(merged_hash(os.path.join(root, "crawl")) == merged_hash(wl.last[1]),
                      "traced crawl's merged tier differs from the composite's")
    for f in checks.failures:
        log(f"CHECK FAILED: {f}")
    attempted += checks.attempted
    failed += len(checks.failures)

    app_id = wl.spark.sparkContext.applicationId
    folded = fold_event_log(event_log_path(os.path.join(work, "events"), app_id))
    values: dict[str, float] = dict.fromkeys(metric_names(), 0.0)
    for layer, c in tr.layer_times().items():
        for k, v in c.items():
            values[f"{layer}.{k}"] = v
    for layer, c in folded.items():
        for k, v in c.items():
            if f"{layer}.{k}" in values:
                values[f"{layer}.{k}"] = v
    values.update(tr.counts)
    for name, xs in phases.items():
        values[name] = statistics.median(xs)
    if phases:
        values["execute.jobs"] = folded.get("execute", {}).get("jobs", 0) / len(phases["execute.ms"])
    values["trace.overhead_s"] = traced - untraced[-1]
    metrics = {name: {"value": round(values[name], 6), "unit": unit_of(name)}
               for name in metric_names()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
