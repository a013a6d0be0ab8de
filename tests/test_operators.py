"""Tests for the scale-path operators: LSH ANN recall vs brute force, and
the multimodal binary-column plumbing (schema/batch shapes are real; decode
is a deterministic fake)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.catalog import load_table
from data_pipeline_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    MEDIA_SCHEMA,
    extract_features,
    sample_frames,
)
from data_pipeline_spark.operators.similarity import knn_bruteforce, knn_lsh

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb")
    )


def test_lsh_ann_recall_vs_bruteforce(spark, emb):
    dim = len(emb.first().emb)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    exact = knn_bruteforce(queries, corpus, k=5).collect()
    approx = knn_lsh(queries, corpus, dim=dim, k=5, n_planes=4, n_tables=3).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    # random (worst-case) embeddings: 4 planes x 3 tables + multiprobe
    # measures 0.88 deterministically; tripwire below that
    assert recall >= 0.7, f"recall@5 = {recall}"
    # every ANN hit must carry the exact cosine of the brute-force path
    exact_sims = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert r.cos_sim == exact_sims[(r.query_id, r.neighbor_id)]


def _media_rows():
    rows = []
    for i in range(10):
        content = bytes([i]) * (100 + i)
        rows.append(
            (f"m{i}", "image" if i % 2 == 0 else "video", content,
             "image/png" if i % 2 == 0 else "video/mp4", 64, 64,
             None if i % 2 == 0 else 3000)
        )
    return rows


def test_multimodal_feature_extraction(spark):
    media = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    feats = extract_features(media)
    assert feats.schema.simpleString() == (
        "struct<" + FEATURE_SCHEMA.replace(", ", ",").replace(" string", ":string")
        .replace(" bigint", ":bigint").replace(" array<float>", ":array<float>") + ">"
    )
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 10
    # deterministic fake decode: sha256 of the bytes, 8-dim feature
    expect = hashlib.sha256(bytes([3]) * 103).hexdigest()
    assert rows["m3"].sha256 == expect
    assert len(rows["m3"].feat) == 8
    assert rows["m3"].n_bytes == 103


def test_multimodal_frame_sampling(spark):
    media = spark.createDataFrame(_media_rows(), MEDIA_SCHEMA)
    frames = sample_frames(media, every_ms=1000)
    got = frames.groupBy("media_id").count().collect()
    # videos have duration 3000ms -> frames at 0,1000,2000 (+2999 guard): 3
    for r in got:
        assert r["count"] == 3
    assert {r.media_id for r in got} == {f"m{i}" for i in range(10) if i % 2 == 1}


# ------------------------------------------------------------- skew tools
def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from data_pipeline_spark.operators.skew import salted_agg, salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}") for i in range(1000)], ["row_id", "k"]
    )
    small = spark.createDataFrame([("hot", 1), ("k10", 2), ("k20", 3)], ["k", "v"])
    plain = {(r.row_id, r.v) for r in big.join(small, "k").collect()}
    salted = {
        (r.row_id, r.v)
        for r in salted_join(big, small, "k", spread_cols=["row_id"], n_salts=8).collect()
    }
    assert salted == plain

    # two-phase aggregation equals single-phase
    expect = {(r.k, r["cnt"]) for r in big.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    got = {
        (r.k, r.cnt)
        for r in salted_agg(
            big, ["k"], ["row_id"],
            [F.count(F.lit(1)).alias("c")],
            lambda p: p.groupBy("k").agg(F.sum("c").alias("cnt")),
        ).collect()
    }
    assert got == expect


def test_hot_key_salted_join_equals_plain_join(spark):
    """hot_key_salted_join (the two-corpus-scale-sides variant): the
    hot/cold key split plus hot-only salting must reproduce the plain
    join exactly — including keys that are hot on the probe side but
    absent from the right side, right-side keys absent from the probe,
    composite keys, and a hot key with MANY right rows (the replication
    the split is supposed to bound)."""
    from data_pipeline_spark.operators.skew import hot_key_salted_join

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 else f"k{i}", "T" if i % 2 else "U")
         for i in range(1000)],
        ["row_id", "k", "t"],
    )
    right = spark.createDataFrame(
        [("hot", "T", 1), ("hot", "T", 2), ("k10", "U", 3), ("k20", "U", 4),
         ("absent", "T", 5)],
        ["k", "t", "v"],
    )
    plain = {(r.row_id, r.v) for r in big.join(right, ["k", "t"]).collect()}
    got = {
        (r.row_id, r.v)
        for r in hot_key_salted_join(
            big, right, ["k", "t"], spread_cols=["row_id"],
            n_salts=8, hot_threshold=50,
        ).collect()
    }
    assert got == plain
    # the split actually engaged: 'hot' is the only key past the threshold
    hot_rows = sum(1 for (rid, v) in got if v in (1, 2))
    assert hot_rows == 2 * big.filter("k = 'hot' and t = 'T'").count()

    # degenerate thresholds: everything-hot and nothing-hot both reduce
    # to the plain join's output
    for thr in (0, 10**9):
        got_t = {
            (r.row_id, r.v)
            for r in hot_key_salted_join(
                big, right, ["k", "t"], spread_cols=["row_id"],
                n_salts=4, hot_threshold=thr,
            ).collect()
        }
        assert got_t == plain


def test_load_table_session_plan_cache(spark):
    """catalog.load_table caches ONE lazy scan plan per (application,
    sf_dir, table) — the r11 fix for the ~0.1s-per-call schema-infer
    round trip that dominated small-query build time (SCALE.md round
    11).  Same session + same args -> same plan object; different sf_dir -> a
    different plan; the events nanos->micros shim survives caching."""
    from data_pipeline_spark.catalog import load_table

    a = load_table(spark, "/root/testdata/sf0.001", "orders")
    b = load_table(spark, "/root/testdata/sf0.001", "orders")
    assert a is b
    c = load_table(spark, "/root/testdata/sf0.01", "orders")
    assert c is not a
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    assert ev is load_table(spark, "/root/testdata/sf0.001", "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")  # shim applied, cached


def test_input_fingerprint_survives_deletion_race(tmp_path, monkeypatch):
    """A file deleted between listdir and stat (concurrent testdata
    regen) must drop out of the fingerprint, not raise out of
    load_table (ADVICE r11)."""
    import os as _os

    from data_pipeline_spark import catalog

    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0").write_text("x")
    (d / "part-1").write_text("y")

    real_stat = _os.stat

    def racy_stat(p, *a, **kw):
        if str(p).endswith("part-1"):
            raise FileNotFoundError(p)
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(catalog.os, "stat", racy_stat)
    fp = catalog.input_fingerprint(str(tmp_path), ("t",))
    assert "part-0" in fp and "part-1" not in fp


def test_tier_build_survives_deletion_race(spark, tmp_path, monkeypatch):
    """A dedup tier's input fingerprint is the catalog's: a documents
    part file whose stat races a deletion drops out of it instead of
    raising out of the tier build."""
    import os as _os

    from data_pipeline_spark import catalog
    from data_pipeline_spark.queries.dedup import _doc_arrays_tier

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "zeta eta theta iota")], ["doc_id", "text"]
    ).repartition(2).write.parquet(f"{sf}/documents.parquet")
    parts = sorted(f for f in _os.listdir(f"{sf}/documents.parquet") if f.startswith("part-"))
    assert len(parts) == 2
    real_stat = _os.stat

    def racy_stat(p, *a, **kw):
        if str(p).endswith(parts[1]):
            raise FileNotFoundError(p)
        return real_stat(p, *a, **kw)

    monkeypatch.setattr(catalog.os, "stat", racy_stat)
    got = {s for r in _doc_arrays_tier(spark, sf).collect() for s in r.sh}
    assert {"alpha beta gamma", "zeta eta theta"} <= got


def test_name_variants(spark):
    from data_pipeline_spark.pipeline.envelope import name_variants

    names = spark.createDataFrame(
        [
            ("u1", "s", "i1", "Person", "claude monet", 0),
            ("u2", "s", "i2", "Person", "monet, claude", 0),
            ("u3", "s", "i3", "Place", "netherlands--amsterdam", 0),
        ],
        "uri string, source string, identifier string, rectype string, name_clean string, priority int",
    )
    got = {(r.uri, r.name_clean): r.priority for r in name_variants(names).collect()}
    assert got[("u1", "monet, claude")] == 10  # person inversion
    assert got[("u2", "claude monet")] == 10  # un-inversion
    assert got[("u3", "netherlands (amsterdam)")] == 10
    assert got[("u3", "amsterdam (netherlands)")] == 10
    assert got[("u1", "claude monet")] == 0  # originals keep priority


def test_materialized_model_planner(spark, tmp_path):
    from data_pipeline_spark.plans.model import (
        build_edges,
        build_entities,
        load_planner,
        materialize_model,
    )
    from data_pipeline_spark.plans.planner import SearchPlanner

    sf = "/root/testdata/sf0.001"
    path = str(tmp_path / "model")
    materialize_model(spark, sf, path)
    live = SearchPlanner(build_entities(spark, sf), build_edges(spark, sf))
    stored = load_planner(spark, path)
    q = 'AND(type=customer, in_nation(name="NATION_7"))'
    a = {r.id for r in live.plan(q).collect()}
    b = {r.id for r in stored.plan(q).collect()}
    assert a == b and len(a) > 0


def test_ivf_ann_recall_vs_bruteforce(spark, emb):
    from data_pipeline_spark.operators.similarity import knn_ivf

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    exact = knn_bruteforce(queries, corpus, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    got = {
        (r.query_id, r.neighbor_id)
        for r in knn_ivf(queries, corpus, k=5, n_clusters=16, nprobe=6).collect()
    }
    recall = len(truth & got) / len(truth)
    # deterministic k-means (no RNG): measures 0.89 on random embeddings
    assert recall >= 0.75, f"recall@5 = {recall}"


def test_ivf_pq_recall_and_rerank_lever(spark, emb):
    """IVF-PQ composes v04's pruning with v06's code compression; its
    recall ceiling is the IVF probe recall (0.89 at nprobe=6 on these
    worst-case random embeddings) and ``rerank`` is the lever that
    approaches it: measured 0.64 at rerank=20, 0.84 at 50, 0.87 at 80.
    Tripwires below the measured values; exactness of the re-ranked
    cosine is pinned against the brute-force scores."""
    from data_pipeline_spark.operators.similarity import knn_ivf_pq

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    exact = knn_bruteforce(queries, corpus, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    approx = knn_ivf_pq(queries, corpus, k=5, nprobe=6, rerank=50).collect()
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, f"recall@5 = {recall}"
    exact_sims = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_sims:
            assert r.cos_sim == exact_sims[(r.query_id, r.neighbor_id)]


def test_ivf_pq_serving_path_equals_selfcontained(spark, emb):
    """The prebuilt-index serving path (ivf_pq_index passed via
    ``index=``) must return byte-identical rows to the
    self-contained declared-query path — the 100 TB contract that the
    persisted index is THE index, not an approximation of the inline
    build.  Geometry (dsub) is derived from the stored codebook, so a
    caller cannot mis-pair dimensions."""
    from data_pipeline_spark.operators.similarity import ivf_pq_index, knn_ivf_pq

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    inline = knn_ivf_pq(queries, corpus, k=5, nprobe=4).collect()
    idx = ivf_pq_index(corpus)
    served = knn_ivf_pq(queries, corpus, k=5, nprobe=4, index=idx).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, served))


def test_asof_join_semantics(spark):
    """Point-in-time correctness: greatest right_time <= left_time per
    key, inclusive boundary, null payload when nothing precedes, keys
    never cross."""
    from data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("e1", "u1", 50), ("e2", "u1", 10), ("e3", "u1", 20), ("e4", "u2", 99)],
        "event_id string, k string, t int",
    )
    right = spark.createDataFrame(
        [("u1", 5, "a"), ("u1", 20, "b"), ("u1", 30, "c"), ("u3", 1, "z")],
        "k string, rt int, state string",
    )
    got = {r.event_id: (r.asof_rt, r.state)
           for r in asof_join(left, right, on="k", left_time="t", right_time="rt").collect()}
    assert got == {
        "e1": (30, "c"),   # latest of several
        "e2": (5, "a"),    # only the earliest precedes
        "e3": (20, "b"),   # inclusive: rt == t matches
        "e4": (None, None),  # u2 has no right rows; u3's never leak
    }
    assert len(got) == 4  # exactly the left rows survive


def test_range_join_semantics(spark):
    """Containment is inclusive on both bounds, bin boundaries don't drop
    matches (interval spanning months), invalid intervals yield nothing."""
    from data_pipeline_spark.operators.range_join import range_join

    points = spark.createDataFrame(
        [("p1", "2024-01-31 12:00:00"), ("p2", "2024-02-01 00:00:00"),
         ("p3", "2024-03-15 00:00:00")],
        "pid string, t string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    intervals = spark.createDataFrame(
        [("iv_span", "2024-01-20 00:00:00", "2024-02-10 00:00:00"),   # spans months
         ("iv_point", "2024-02-01 00:00:00", "2024-02-01 00:00:00"),  # degenerate, inclusive
         ("iv_bad", "2024-03-20 00:00:00", "2024-03-01 00:00:00")],   # end < start
        "iid string, s string, e string",
    ).withColumn("s", F.col("s").cast("timestamp")).withColumn("e", F.col("e").cast("timestamp"))
    got = {(r.pid, r.iid) for r in range_join(points, intervals, "t", "s", "e").collect()}
    assert got == {("p1", "iv_span"), ("p2", "iv_span"), ("p2", "iv_point")}


def test_asof_join_equals_theta_join_form(spark):
    """Property check on pseudo-random interleaved data: the union+window
    as-of join must equal the naive greatest-right_time<=left_time theta
    formulation (which is what it replaces at scale)."""
    from data_pipeline_spark.operators.asof import asof_join

    left = spark.range(200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 13).alias("k"),
        ((F.col("id") * 7919) % 1000).alias("t"),
    )
    right = spark.range(80).select(
        (F.col("id") % 13).alias("k"),
        ((F.col("id") * 6271) % 1000).alias("rt"),
        (F.col("id") * 3).alias("payload"),
    ).groupBy("k", "rt").agg(F.max("payload").alias("payload"))  # unique (k, rt)

    got = {(r.event_id): (r.asof_rt, r.payload)
           for r in asof_join(left, right, on="k", left_time="t", right_time="rt").collect()}

    l, r_ = left.alias("l"), right.alias("r")
    theta = (
        l.join(r_, (F.col("l.k") == F.col("r.k")) & (F.col("l.t") >= F.col("r.rt")), "left")
        .groupBy("event_id", "t")
        .agg(F.max(F.struct("rt", "payload")).alias("best"))
        .select("event_id", F.col("best.rt").alias("rt"), F.col("best.payload").alias("payload"))
    )
    want = {r.event_id: (r.rt, r.payload) for r in theta.collect()}
    assert got == want and len(got) == 200


def test_range_join_equals_theta_join_form(spark):
    """Property check: bin-bucketed range join == naive BETWEEN theta join
    on pseudo-random timestamps/intervals crossing bin boundaries."""
    from data_pipeline_spark.operators.range_join import range_join

    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    points = spark.range(150).select(
        F.col("id").alias("pid"),
        (base + F.make_dt_interval(F.lit(0), (F.col("id") * 37) % 2000)).alias("t"),
    )
    intervals = spark.range(60).select(
        F.col("id").alias("iid"),
        (base + F.make_dt_interval(F.lit(0), (F.col("id") * 53) % 1900)).alias("s"),
    ).withColumn("e", F.col("s") + F.make_dt_interval(F.lit(0), (F.col("iid") * 11) % 400))

    got = {(r.pid, r.iid)
           for r in range_join(points, intervals, "t", "s", "e", bin_width="1 day").collect()}
    want = {(r.pid, r.iid)
            for r in points.join(
                intervals, (F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e"))
            ).collect()}
    assert got == want and len(want) > 0


def test_d09_recall_vs_exact_allpairs(spark):
    """The d09 driver oracle pins the LSH scheme itself (dataset-independent);
    this test pins what the scheme is FOR: recall against the exact
    all-pairs near-dup set at the test SF.  Slack on the precision side
    allows fp-rounding at the cosine threshold boundary; recall is a
    measured property so it gets a floor, not an equality."""
    from data_pipeline_spark.queries.dedup import COS_T, EMB_EXACT_SQL, d09_embedding_neardup

    from .conftest import SF_ORACLE
    from .oracle_harness import duckdb_con

    con = duckdb_con(SF_ORACLE)
    exact = {(r[0], r[1]) for r in con.execute(EMB_EXACT_SQL).fetchall()}
    slack = {
        (r[0], r[1])
        for r in con.execute(
            EMB_EXACT_SQL.replace(f">= {COS_T}", f">= {COS_T - 1e-5}")
        ).fetchall()
    }
    got = {(r.id_a, r.id_b) for r in d09_embedding_neardup(spark, SF_ORACLE).collect()}
    assert got <= slack, f"false positives: {sorted(got - slack)[:5]}"
    assert exact, "exact twin found no near-dup pairs — test is vacuous"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} < 0.95 ({len(exact)} exact pairs)"


def test_d06_refuses_large_corpus(spark, monkeypatch):
    """d06 is the declared-quadratic oracle twin: above the doc-count
    guard it must refuse with a pointer at the d07 scale path instead of
    launching a hot-shingle self-join."""
    import pytest

    from data_pipeline_spark.queries import text
    from data_pipeline_spark.queries.text import d06_ngram_jaccard_pairs

    from .conftest import SF_ORACLE

    monkeypatch.setattr(text, "D06_MAX_DOCS", 10)
    with pytest.raises(ValueError, match="d07_minhash_lsh_pairs"):
        d06_ngram_jaccard_pairs(spark, SF_ORACLE)


def test_tier_cache_invalidates_on_input_regen(spark, tmp_path):
    """An in-place testdata regeneration under the same sf_dir must
    invalidate the memoized dedup tiers (the memo holds each entry with
    its input fingerprint), never serve a stale checkpoint."""
    import os

    from data_pipeline_spark import catalog
    from data_pipeline_spark.queries.dedup import _doc_arrays_tier, clear_tier_cache

    sf = str(tmp_path)

    def tiers(kind="tier"):
        return [k for k in catalog._MEMO if k[1] == os.path.abspath(sf) and k[2][0] == kind]

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    first = {s for r in _doc_arrays_tier(spark, sf).collect() for s in r.sh}
    assert "alpha beta gamma" in first
    # same input -> memoized (same object back)
    assert _doc_arrays_tier(spark, sf) is _doc_arrays_tier(spark, sf)

    spark.createDataFrame(
        [(1, "zeta eta theta iota")], ["doc_id", "text"]
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    second = {s for r in _doc_arrays_tier(spark, sf).collect() for s in r.sh}
    assert "zeta eta theta" in second and "alpha beta gamma" not in second
    # the stale tier was replaced, not retained alongside
    assert len(tiers()) == 1
    clear_tier_cache()
    assert not [k for k in catalog._MEMO if k[2][0] == "tier"]
    # only tiers are dropped: the documents scan plan stays memoized
    assert len(tiers("table")) == 1


def test_d09_exact_equality_at_tiny_sf(spark):
    """The d09 driver oracle replicates the LSH scheme, so a bug in the
    SHARED scheme (plane derivation, multiprobe flips) would pass that
    gate on both sides.  This pins the scheme against ground truth where
    it owes perfection: at sf0.001 the candidate set equals the exact
    all-pairs near-dup set (measured recall 1.0) — any scheme regression
    that loses a pair turns this red even if the replica oracle agrees."""
    from data_pipeline_spark.queries.dedup import EMB_EXACT_SQL, d09_embedding_neardup

    from .oracle_harness import duckdb_con

    sf = "/root/testdata/sf0.001"
    con = duckdb_con(sf)
    exact = {(r[0], r[1]) for r in con.execute(EMB_EXACT_SQL).fetchall()}
    got = {(r.id_a, r.id_b) for r in d09_embedding_neardup(spark, sf).collect()}
    assert exact, "exact twin found no pairs — test is vacuous"
    assert got == exact, (
        f"missed: {sorted(exact - got)[:5]}, extra: {sorted(got - exact)[:5]}"
    )


def test_d16_packing_invariants(spark):
    """Structural invariants of the streaming-fill packer: every doc lands
    in exactly one pack, per-shard token totals are preserved, and no pack
    overruns the budget by more than its shard's largest document (the
    documented bound of the floor(preceding_sum/budget) assignment)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.catalog import load_table
    from data_pipeline_spark.queries.text2 import PACK_BUDGET, d16_sequence_packing

    from .conftest import SF_ORACLE

    packs = d16_sequence_packing(spark, SF_ORACLE).collect()
    docs = load_table(spark, SF_ORACLE, "documents").select(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    by_shard = {
        r.shard: (r.n_docs, r.total, r.biggest)
        for r in docs.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total"),
             F.max("n_tok").alias("biggest"))
        .collect()
    }
    assert sum(p.n_docs for p in packs) == sum(v[0] for v in by_shard.values())
    for shard, (n_docs, total, biggest) in by_shard.items():
        mine = [p for p in packs if p.shard == shard]
        assert sum(p.n_tokens for p in mine) == total
        assert sum(p.n_docs for p in mine) == n_docs
        for p in mine:
            assert p.n_tokens < PACK_BUDGET + biggest, (shard, p.pack_id, p.n_tokens)
        # pack ids ascend from 0 (a doc longer than 2x budget may skip an
        # id on the floor grid — allowed; density is a dataset property)
        ids = sorted(p.pack_id for p in mine)
        assert ids[0] == 0 and len(set(ids)) == len(ids)


def test_overlap_join_fractional_and_boundary_semantics(spark):
    """overlap_join edge cases a review surfaced: sub-second interval
    tails must still bin-collide (unix_timestamp truncation used to drop
    them), and half-open intervals touching only at a shared endpoint
    must NOT pair."""
    import datetime as dt

    from data_pipeline_spark.operators.range_join import overlap_join

    t = lambda *a: dt.datetime(2024, 1, 1, *a)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, t(10, 0, 0), t(10, 0, 1, 500000)),   # frac tail crosses bin
            (3, t(11, 0, 0), t(11, 0, 10)),          # ends exactly at b start
        ],
        "a_id int, a_start timestamp, a_end timestamp",
    )
    right = spark.createDataFrame(
        [
            (2, t(10, 0, 1, 200000), t(10, 0, 2)),   # overlaps 1 by 0.3s
            (4, t(11, 0, 10), t(11, 0, 20)),         # abuts 3: no overlap
        ],
        "b_id int, b_start timestamp, b_end timestamp",
    )
    got = {
        (r.a_id, r.b_id)
        for r in overlap_join(
            left, right, "a_start", "a_end", "b_start", "b_end",
            bin_seconds=1,
        ).collect()
    }
    assert got == {(1, 2)}


def test_overlap_join_matches_theta_join(spark):
    """Randomized intervals: the bin-bucketed operator must equal the
    literal theta join exactly, each pair once."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.operators.range_join import overlap_join

    base = spark.range(60).select(
        F.col("id").alias("a_id"),
        F.timestamp_seconds(1700000000 + (F.col("id") * 977) % 5000)
        .alias("a_start"),
    ).withColumn(
        "a_end", F.timestamp_seconds(
            F.unix_timestamp("a_start") + 60 + (F.col("a_id") * 37) % 900)
    )
    other = base.select(
        F.col("a_id").alias("b_id"), F.col("a_start").alias("b_start"),
        F.col("a_end").alias("b_end"),
    )
    got = {
        (r.a_id, r.b_id)
        for r in overlap_join(
            base, other, "a_start", "a_end", "b_start", "b_end",
            bin_seconds=600,
        ).filter(F.col("a_id") < F.col("b_id")).collect()
    }
    expect = {
        (r.a_id, r.b_id)
        for r in base.crossJoin(other)
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
        )
        .collect()
    }
    assert got == expect and len(expect) > 10


def test_overlap_join_long_interval_cap_equals_uncapped(spark):
    """Heavy-tailed interval lengths (a few giant outliers among short
    intervals): the max_bins two-tier path — outliers leave the bin
    explode and meet the other side via broadcast — must produce
    EXACTLY the uncapped result, each pair once.  This is the cap/split
    rule for the regime where one year-long interval would explode into
    ~e5 bin rows (SCALE.md round 7)."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.operators.range_join import overlap_join

    # lengths 60..960 s for most ids; ids divisible by 17 get a ~290x
    # outlier length (pseudo-Pareto tail), all deterministic
    base = spark.range(80).select(
        F.col("id").alias("a_id"),
        F.timestamp_seconds(1700000000 + (F.col("id") * 977) % 5000)
        .alias("a_start"),
    ).withColumn(
        "a_end",
        F.timestamp_seconds(
            F.unix_timestamp("a_start")
            + F.when(F.col("a_id") % 17 == 0, 175000)
            .otherwise(60 + (F.col("a_id") * 37) % 900)
        ),
    )
    other = base.select(
        F.col("a_id").alias("b_id"), F.col("a_start").alias("b_start"),
        F.col("a_end").alias("b_end"),
    )

    def run(max_bins):
        return sorted(
            (r.a_id, r.b_id)
            for r in overlap_join(
                base, other, "a_start", "a_end", "b_start", "b_end",
                bin_seconds=600, max_bins=max_bins,
            ).filter(F.col("a_id") < F.col("b_id")).collect()
        )

    uncapped = run(None)
    capped = run(2)  # outliers (292 bins) AND some mid intervals re-route
    assert capped == uncapped and len(uncapped) > 20
    # every pair exactly once (the union of the three tiers is disjoint)
    assert len(set(capped)) == len(capped)


def test_substring_dedup_clean_semantics(spark):
    """d39 library form on a handcrafted corpus: the shared 8-gram run is
    cut from BOTH documents (exact-substring removal is symmetric),
    unique text survives, sub-8-token documents pass through untouched,
    and a fully-duplicated document comes back empty."""
    from data_pipeline_spark.queries.text4 import substring_dedup_clean

    shared = "one two three four five six seven eight"  # exactly 8 tokens
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"epsilon zeta {shared} eta theta"),
        (3, "tiny doc"),                       # < 8 tokens: no gram, untouched
        (4, shared),                           # fully duplicated -> empty
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in substring_dedup_clean(docs).collect()}

    assert len(out) == 4                      # one row per input document
    assert out[1].clean_text == "alpha beta gamma delta"
    assert out[1].n_tokens == 12 and out[1].n_removed == 8
    assert out[2].clean_text == "epsilon zeta eta theta"
    assert out[3].clean_text == "tiny doc" and out[3].n_removed == 0
    assert out[4].clean_text == "" and out[4].n_removed == 8


def test_capped_assignment_bounds_every_pair_group(spark):
    """d40's production lever as a hard property: after capped_assignment,
    NO (cluster_id, sub_id) group exceeds the cap — on an adversarially
    skewed assignment (one mega-cluster) — splits are balanced
    (sizes differ by at most 1), every row keeps its original cluster,
    and at-or-under-cap clusters stay whole."""
    from data_pipeline_spark.operators.similarity import capped_assignment

    rows = [(i, [float(i)], 0) for i in range(97)]       # mega-cluster, n=97
    rows += [(100 + i, [float(i)], 1) for i in range(10)]  # under cap
    rows += [(200 + i, [float(i)], 2) for i in range(26)]  # just over cap
    assigned = spark.createDataFrame(
        rows, "neighbor_id bigint, nemb array<double>, cluster_id int"
    )
    cap = 25
    sub = capped_assignment(assigned, cap).collect()
    assert len(sub) == len(rows)
    assert {r.neighbor_id for r in sub} == {r[0] for r in rows}
    from collections import Counter

    groups = Counter((r.cluster_id, r.sub_id) for r in sub)
    assert max(groups.values()) <= cap
    # cluster 0: ceil(97/25)=4 balanced splits (25/24/24/24)
    c0 = sorted(v for (c, _), v in groups.items() if c == 0)
    assert c0 == [24, 24, 24, 25]
    # cluster 1 stays whole; cluster 2 splits in 2 (13/13)
    assert [v for (c, _), v in groups.items() if c == 1] == [10]
    assert sorted(v for (c, _), v in groups.items() if c == 2) == [13, 13]


def test_semantic_dedup_cap_semantics(spark, emb):
    """Capped semantic dedup can only detect FEWER duplicates than the
    uncapped run (comparisons confined to sub-clusters), so its kept set
    is a superset; with the cap at or above the largest cluster the two
    runs are identical."""
    from data_pipeline_spark.operators.similarity import semantic_dedup

    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb")
    )
    base = {r.vec_id: r.kept for r in semantic_dedup(corpus, k=8).collect()}
    capped = {
        r.vec_id: r.kept
        for r in semantic_dedup(corpus, k=8, max_cluster_size=20).collect()
    }
    assert set(base) == set(capped)
    assert all(capped[v] for v, kept in base.items() if kept)  # superset
    huge = {
        r.vec_id: r.kept
        for r in semantic_dedup(corpus, k=8, max_cluster_size=10**6).collect()
    }
    assert huge == base


def test_pq_adc_recall_and_one_sided_rank(spark, emb):
    """PQ-ADC top-5 vs brute force: re-rank depth is the recall lever
    (the Jégou et al. trade) — on uniform random 64-dim embeddings (the
    PQ worst case: no cluster structure for 16 codes to exploit) the
    measured curve is 0.59 / 0.79 / 0.93 at rerank 20 / 50 / 100.  Pin
    the floor at 50, the monotone lever, and that every emitted row
    carries the ADC estimate next to the exact cosine with the
    quantization error inside a loose band."""
    from data_pipeline_spark.operators.similarity import knn_pq_adc

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    exact = knn_bruteforce(queries, corpus, k=5).collect()
    truth = {(r.query_id, r.neighbor_id) for r in exact}

    def recall(rerank: int) -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in knn_pq_adc(queries, corpus, k=5, rerank=rerank).collect()
        }
        return len(truth & got) / len(truth)

    shallow, deep = recall(20), recall(50)
    assert deep >= 0.7, f"recall@5 (rerank=50) = {deep}"
    assert deep >= shallow, (shallow, deep)
    rows = knn_pq_adc(queries, corpus, k=5, rerank=50).collect()
    for r in rows:
        assert abs(r.est_cos - r.cos_sim) < 0.5, (r.query_id, r.neighbor_id)


def test_pq_adc_prebuilt_index_path_is_identical(spark, emb):
    """The persisted-index serving path (index=(codebook, codes, norms)
    built once by pq_index + vector_norms) must return exactly the rows
    the self-training path returns — the parameter changes WHERE the
    index comes from, never the result."""
    from data_pipeline_spark.operators.similarity import (
        knn_pq_adc,
        pq_index,
        vector_norms,
    )

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    cb, codes = pq_index(corpus)
    index = (
        cb.localCheckpoint(),
        codes.localCheckpoint(),
        vector_norms(corpus, "neighbor_id", "nemb").localCheckpoint(),
    )
    key = lambda r: (r.query_id, r.neighbor_id)  # noqa: E731
    self_trained = sorted(knn_pq_adc(queries, corpus, k=5, rerank=30).collect(), key=key)
    served = sorted(
        knn_pq_adc(queries, corpus, k=5, rerank=30, index=index).collect(), key=key
    )
    assert [tuple(r) for r in served] == [tuple(r) for r in self_trained]


def test_bloom_membership_no_false_negatives_and_real_fps(spark):
    """The Bloom relation (d49) must NEVER miss a present key (no false
    negatives — the filter's hard guarantee) and, loaded to ~0.5 keys/bit
    x k=3 where theory predicts ~46% FPs, must actually PRODUCE false
    positives — proving the verdict column detects them rather than
    degenerating into the exact check."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.queries.text4 import _BLOOM_K, bloom_positions

    prev = spark.range(2000).select(F.md5(F.col("id").cast("string")).alias("fp"))
    # delta: 200 keys present in prev + 400 disjoint keys
    hit = spark.range(200).select(F.md5(F.col("id").cast("string")).alias("fp"))
    miss = spark.range(400).select(
        F.md5(F.concat(F.lit("novel-"), F.col("id").cast("string"))).alias("fp")
    )
    delta = hit.withColumn("present", F.lit(True)).unionByName(
        miss.withColumn("present", F.lit(False))
    )
    prev_bits = prev.select(
        F.explode(bloom_positions(F.col("fp"))).alias("bitpos")
    ).distinct()
    verdicts = (
        delta.select("fp", "present", F.explode(bloom_positions(F.col("fp"))).alias("bitpos"))
        .join(F.broadcast(prev_bits.withColumn("_hit", F.lit(True))), "bitpos", "left")
        .groupBy("fp", "present")
        .agg((F.count("_hit") == _BLOOM_K).alias("seen_bloom"))
        .collect()
    )
    fn = [r for r in verdicts if r.present and not r.seen_bloom]
    fp = [r for r in verdicts if not r.present and r.seen_bloom]
    assert not fn, f"Bloom false negatives: {len(fn)}"
    # 2000 keys x 3 positions in 4096 bits -> fill ~0.77, FP ~ 0.46
    assert len(fp) > 50, f"expected substantial FPs at this density, got {len(fp)}"


def test_sq_recall_beats_pq_at_small_rerank(spark, emb):
    """Scalar quantization's selling point over PQ is rank fidelity:
    measured recall@5 on the worst-case random embeddings is 1.0 at
    rerank=10 (flat PQ needs rerank~100 for 0.93) — int8 per-dimension
    codes are effectively rank-lossless here.  Tripwire below the
    measured value."""
    from data_pipeline_spark.operators.similarity import knn_sq

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    truth = {
        (r.query_id, r.neighbor_id)
        for r in knn_bruteforce(queries, corpus, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in knn_sq(queries, corpus, k=5, rerank=10).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.95, f"recall@5 = {recall}"


def test_sq_serving_path_equals_selfcontained(spark, emb):
    """The prebuilt SQ index (sq_index triple passed via ``index=``) must
    return byte-identical rows to the self-contained path — the same
    persisted-index contract as PQ/IVF-PQ."""
    from data_pipeline_spark.operators.similarity import knn_sq, sq_index

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    inline = knn_sq(queries, corpus, k=5).collect()
    stats, codes, norms = sq_index(corpus)
    idx = (stats.localCheckpoint(), codes.localCheckpoint(), norms.localCheckpoint())
    served = knn_sq(queries, corpus, k=5, index=idx).collect()
    assert sorted(map(tuple, inline)) == sorted(map(tuple, served))
