"""The benchmark's own tests: the generators plant the shapes they claim,
and the engine sees them that way.

    python3 -m pytest entitybench/test_gen.py -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entitybench import gen  # noqa: E402
from entitybench.workloads import MERGE_ORDER, Checks, check_build, read_indexes  # noqa: E402

N_PAIRS = 200


def test_corpus_is_a_function_of_the_seed():
    a, b, c = gen.make_corpus(5, N_PAIRS), gen.make_corpus(5, N_PAIRS), gen.make_corpus(6, N_PAIRS)
    assert a.records == b.records and a.indexes == b.indexes
    assert a.records != c.records


def test_component_size_histogram():
    corpus = gen.make_corpus(1, N_PAIRS)
    sizes = Counter(len(c) for c in corpus.truth.components)
    k = N_PAIRS // 100
    # pairs (uniform, name-index, uri-variant, sameAs, plausible dates)
    assert sizes[2] == N_PAIRS + 2 * k + 2 * k + k + k
    # singletons plus both halves of every vetoed pair
    assert sizes[1] == 5 * k + 2 * k + 2 * k
    chains = [s for s in sizes.elements() if 8 <= s <= 10 or 28 <= s <= 32]
    assert len(chains) == k + 1 and max(chains) >= 28
    assert sizes[len(corpus.truth.hot_star)] >= 1 and len(corpus.truth.hot_star) == 3 * k + 21
    members = [u for c in corpus.truth.components for u in c]
    assert len(members) == len(set(members)) == len(corpus.records)


def test_feed_batch_mix():
    corpus = gen.make_corpus(1, N_PAIRS)
    rows, watermark = gen.make_feed(1, corpus, 100)
    kinds = Counter(r["change"] for r in rows)
    assert kinds["update"] and kinds["create"] and kinds["delete"]
    assert any(r["end_time"] <= watermark for r in rows), "no items older than the watermark"
    live = [r["object_uri"] for r in rows if r["end_time"] > watermark]
    assert len(live) > len(set(live)), "no duplicate items"
    for r in rows:
        if r["payload"]:
            assert json.loads(r["payload"])["id"] == r["object_uri"]
    assert not {r["object_uri"] for r in rows} & corpus.truth.protected


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """A small corpus built by the engine, with its committed tiers."""
    from entitybench.run import configure_env, stop_spark

    work = str(tmp_path_factory.mktemp("entitybench"))
    configure_env(work, trace=False)
    from data_pipeline_spark.pipeline.build import run_build
    from data_pipeline_spark.session import get_spark
    from data_pipeline_spark.sinks.exports import write_parquet_atomic

    spark = get_spark("entitybench-tests", cpus=2)
    corpus = gen.make_corpus(3, N_PAIRS)
    inputs = gen.write_corpus(corpus, os.path.join(work, "in"))
    out = os.path.join(work, "out")
    tiers = run_build(spark, spark.read.parquet(inputs["records"]), read_indexes(spark, inputs),
                      merge_order=MERGE_ORDER, materialize=True)
    for name in ("merged", "idmap", "edges"):
        write_parquet_atomic(tiers[name], os.path.join(out, f"{name}.parquet"))
    yield spark, corpus, inputs, out, tiers
    stop_spark(spark)


def test_planted_shapes_hold_in_the_build(built):
    """Components merge as planted, the hot-name star is one entity and
    every vetoed pair stays split (check_build without the export)."""
    spark, corpus, _, out, tiers = built
    from data_pipeline_spark.sinks.exports import export_ntriples

    export_ntriples(tiers["edges"], os.path.join(out, "nt"))
    for name in ("facets", "names"):
        tiers[name].write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    checks = Checks()
    check_build(out, corpus.truth, checks)
    assert checks.failures == [] and checks.attempted >= 7
    got = Counter(r["count"] for r in tiers["reidentified"].groupBy("yuid").count().collect())
    assert got == Counter(len(c) for c in corpus.truth.components)


def test_blast_radius_of_link_into_existing_creates(built):
    """A create that asserts an equivalent into an existing record, or
    carries the hot name, pulls that record's whole component into the
    crawl's blast radius."""
    spark, corpus, inputs, out, _ = built
    from data_pipeline_spark.pipeline.incremental import affected_uris

    rows, _ = gen.make_feed(3, corpus, 100)
    feed = os.path.join(os.path.dirname(out), "feed.parquet")
    gen.write_table(rows, feed, gen.FEED_SCHEMA)
    blast = {r.uri for r in affected_uris(
        spark.read.parquet(feed), spark.read.parquet(os.path.join(out, "idmap.parquet")),
        read_indexes(spark, inputs)).collect()}
    component = {u: c for c in corpus.truth.components for u in c}
    linked = 0
    for r in rows:
        if r["change"] != "create":
            continue
        doc = json.loads(r["payload"])
        targets = [e["id"] for e in doc.get("equivalent", [])]
        if any(n["content"] == gen.HOT_NAME for n in doc.get("identified_by", [])):
            targets.append(gen.uri("srcH", "hub"))
        for t in targets:
            linked += 1
            assert set(component[t]) <= blast, f"{r['object_uri']} -> {t}"
    assert linked > 0
