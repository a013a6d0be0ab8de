"""Runnable end-to-end demo — what a reference user's day looks like on
this engine, in one script:

1. **Entity build** on the bundled fixtures: records from two linked
   sources go through map -> reconcile -> closure -> mint -> reidentify
   -> merge, then edge/name extraction and an N-Triples export.
2. **Search DSL**: parse a string query and run the compiled DataFrame
   plan over the built model.
3. **Corpus curation** on the documents table: the composed d26 pass
   (quality -> scrub -> dedup -> domain cap) routed into training
   shards on disk, plus a streaming micro-batch of the same checks.

Usage:
    python tools/demo_pipeline.py [SF_DIR] [OUT_DIR]
    # defaults: /root/testdata/sf0.001, a temp directory
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="demo_")
    spark = get_spark("demo")

    # 1 — the entity build on the golden fixtures
    from data_pipeline_spark.pipeline.build import run_build
    from data_pipeline_spark.pipeline.edges import extract_edges, to_ntriples
    from data_pipeline_spark.pipeline.fixtures import fixture_tables

    t = fixture_tables(spark)
    built = run_build(
        spark,
        t["records"],
        {k: t[k] for k in ("name_index", "uri_index", "same_as", "different_from")},
        idmap_prev=t["idmap_prev"],
    )
    merged, idmap = built["merged"], built["idmap"]
    edges = built["edges"]
    print(f"[build] merged={merged.count()} idmap={idmap.count()} "
          f"edges={edges.count()}")
    nt_path = os.path.join(out, "export.nt")
    to_ntriples(edges).limit(5).write.mode("overwrite").text(nt_path)
    print(f"[build] N-Triples sample written to {nt_path}")

    # 2 — the search DSL over the benchmark tables
    from data_pipeline_spark.plans.model import build_planner

    planner = build_planner(spark, sf_dir)
    hits = planner.plan(
        'AND(type=customer, in_nation(name="NATION_7"))'
    ).count()
    print(f"[dsl] customers-in-NATION_7 query -> {hits} hits")

    # 3 — corpus curation into training shards
    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.sinks.exports import write_training_shards

    curated = QUERIES["d26_curation_pipeline"].spark_fn(spark, sf_dir)
    kept = curated.count()
    shards = QUERIES["d24_corpus_shuffle_shards"].spark_fn(spark, sf_dir)
    shard_dir = os.path.join(out, "shards")
    write_training_shards(shards, shard_dir)
    print(f"[curate] {kept} docs survived the full pass; "
          f"shards written to {shard_dir}")

    # 3b — the same checks on a stream
    import json as _json

    from data_pipeline_spark.streaming.curation_stream import (
        index_benchmark, stream_curate,
    )

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id bigint, text string",
    )
    idx = os.path.join(out, "bench_idx")
    index_benchmark(bench, idx)
    feed = os.path.join(out, "feed")
    os.makedirs(feed, exist_ok=True)
    with open(os.path.join(feed, "batch.jsonl"), "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "the quick brown fox " * 20}) + "\n")
    q = stream_curate(spark, feed, idx, os.path.join(out, "curated_stream"),
                      os.path.join(out, "ckpt"))
    q.awaitTermination(120)
    n = spark.read.parquet(os.path.join(out, "curated_stream")).count()
    print(f"[stream] curated {n} streamed doc(s)")

    # 4 — the streaming entity build on delta (merge-on-read) state:
    # one crawl becomes one blast-sized delta; reads fold base + deltas
    from data_pipeline_spark.catalog import empty_indexes
    from data_pipeline_spark.streaming.entity_stream import (
        init_state, latest_state, lookup_state, stream_entity_builds,
    )

    def _doc(k, label):
        return _json.dumps(
            {"id": f"https://fixture.test/srcA/{k}", "type": "Person",
             "_label": label}
        )

    recs = spark.createDataFrame(
        [("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
          _doc(k, f"A{k}")) for k in range(5)],
        "source string, identifier string, rectype string, "
        "record_time string, change string, data string",
    )
    idx_empty = empty_indexes(spark)
    state = os.path.join(out, "entity_state")
    init_state(spark, recs, idx_empty, state)
    efeed = os.path.join(out, "entity_feed")
    os.makedirs(efeed, exist_ok=True)
    with open(os.path.join(efeed, "crawl0.jsonl"), "w") as f:
        f.write(_json.dumps(
            {"seq": 1, "end_time": "2026-02-01T00:00:00", "change": "update",
             "object_uri": "https://fixture.test/srcA/2",
             "payload": _doc(2, "A2-updated")}) + "\n")
    q2 = stream_entity_builds(
        spark, efeed, state, os.path.join(out, "entity_ckpt"), idx_empty,
    )
    q2.awaitTermination(120)
    folded = latest_state(spark, state, os.path.join(out, "entity_ckpt"))
    print(f"[entity-stream] folded merged tier: "
          f"{folded['merged'].count()} entities (delta state under {state})")
    # keyed serving read: touches only the key's bucket + the delta,
    # never the corpus (CLI twin: `state-lookup --key <uri>`)
    hit = lookup_state(
        spark, state, os.path.join(out, "entity_ckpt"),
        ["https://fixture.test/srcA/2"],
    ).collect()
    print(f"[entity-stream] point lookup srcA/2 -> "
          f"{_json.loads(hit[0]['data'])['_label']}")
    print(f"demo output under {out}")


if __name__ == "__main__":
    main()
