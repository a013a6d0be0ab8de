"""Physical-plan regression tests: the scale claims of SCALE.md pinned as
assertions on the optimized plans. A future change that silently breaks
predicate pushdown, column pruning, or flips a dim join to sort-merge
fails here, not in production."""

from __future__ import annotations

import re

import pytest

from data_pipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _executed_plans(spark, run) -> list[str]:
    """Call ``run()`` and return the physical plan description of every
    SQL execution it started (each eager localCheckpoint and each
    action), oldest first, read from the session's SQL status store,
    which records them with the UI disabled.  An adaptive plan's
    description holds its final plan above its initial one."""
    store = spark._jsparkSession.sharedState().statusStore()
    last = store.executionsList().reverseIterator()
    mark = last.next().executionId() if last.hasNext() else -1
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = []
    it = store.executionsList().reverseIterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() <= mark:
            break
        plans.append(e.physicalPlanDescription())
    assert plans, "no SQL execution recorded"
    return plans[::-1]


def _assert_gate_joins_keyed(spark, name: str) -> None:
    """Every SQL execution of a build gate (run_build's six tier
    checkpoints and the final collect) plans keyed joins only: no
    CartesianProduct and no BroadcastNestedLoopJoin."""
    plans = _executed_plans(spark, lambda: QUERIES[name].spark_fn(spark, SF).collect())
    assert len(plans) >= 7, len(plans)
    for plan in plans:
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q04_broadcasts_all_dims_no_sort_merge(spark):
    plan = _plan(spark, "q04_local_supplier_volume")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_q05_filters_reach_the_scan(spark):
    plan = _plan(spark, "q05_revenue_forecast")
    # predicates appear at the FileScan (toString truncates the full
    # PushedFilters list, so assert the scan-level DataFilters and that
    # the scan projects only the 4 needed of 11 lineitem columns)
    scan = plan.split("FileScan parquet", 1)[1]
    assert "DataFilters: [isnotnull(l_shipdate" in scan
    assert scan.startswith(" [l_quantity")
    assert "l_returnflag" not in scan.split("DataFilters")[0]


def test_p06_scan_is_column_pruned(spark):
    plan = _plan(spark, "p06_reference_stub")
    # documents has 5 columns; the stub needs 3 — text/n_chars must NOT
    # be read
    assert "ReadSchema" in plan
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_q01_has_partial_aggregation(spark):
    plan = _plan(spark, "q01_pricing_summary")
    # map-side partial agg = two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_top_k_uses_take_ordered(spark):
    plan = _plan(spark, "w06_top10_orders")
    # global ordered limit must be per-partition top-k + tiny merge,
    # never a full sort
    assert "TakeOrderedAndProject" in plan


def test_d08_simhash_banded_no_theta_selfjoin(spark):
    """d08's pair generation must be the segment-banded equi-join; an
    `a.id < b.id`-only join shows up as CartesianProduct/NestedLoop."""
    plan = _plan(spark, "d08_simhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d09_embedding_bucketed_no_cross_selfjoin(spark):
    """d09 must generate candidates through LSH signature buckets (equi-join
    on sig), never an all-pairs cross/theta self-join."""
    plan = _plan(spark, "d09_embedding_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d07_minhash_band_join_only(spark):
    """d07's only joins are (band, band_hash) candidate generation and the
    candidate-bounded verification — never a shingle-index theta self-join —
    and candidate pairs are emitted once (first-shared-band), so no
    distinct exchange keyed on the pair may appear.  Built from the
    builders directly (the declared query returns the checkpointed tier,
    whose plan is just a scan)."""
    import re

    from pyspark.sql import functions as F

    from data_pipeline_spark.catalog import load_table
    from data_pipeline_spark.queries.dedup import (
        JACCARD_T,
        lsh_candidates,
        minhash_signatures,
        shingle_arrays_df,
        verified_pairs_from_arrays,
    )

    da = shingle_arrays_df(load_table(spark, SF, "documents"))
    sigs = minhash_signatures(da.select("id", F.explode("sh").alias("shingle")))
    df = verified_pairs_from_arrays(da, lsh_candidates(sigs), JACCARD_T)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pair_dedup = re.findall(r"HashAggregate\(keys=\[id_a[^\]]*id_b", plan)
    assert not pair_dedup, pair_dedup


def test_dsl_planner_is_memoized_and_persisted(spark):
    """The DSL model must be built once per (session, sf_dir) and its
    relations must be leaf scans of the persisted tables — with the raw
    6-way-union lineage at every leaf, Catalyst analysis time grows
    exponentially with traversal depth (measured round 1)."""
    from data_pipeline_spark.plans.model import serving_planner

    p1 = serving_planner(spark, SF)
    p2 = serving_planner(spark, SF)
    assert p1 is p2  # memoized per session+sf
    for rel in (p1.entities, p1.edges, p1.edges_object_keyed):
        plan = rel._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan and "Relation" in plan, plan


def _chain(spark, n=120):
    return spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)], ["src", "dst"]
    )


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs it launched), counted with the status
    tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _with_threshold(spark, value, fn):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    try:
        return fn()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_closure_default_routes_local_in_few_jobs(spark):
    """At test size the edge set fits the broadcast threshold, so the
    default closure gathers it once and closes it on the driver: a
    120-node chain (the shape that needs O(log n) shuffle rounds) costs a
    handful of jobs, not a job fan per round."""
    from data_pipeline_spark.pipeline.closure import connected_components

    chain = _chain(spark).localCheckpoint()
    stats: dict = {}
    labels, jobs = _count_jobs(
        spark, lambda: connected_components(chain, stats=stats)
    )
    assert stats["algorithm"] == "local"
    assert jobs <= 5, f"local closure launched {jobs} jobs"
    rows = {r.node: r.component for r in labels.collect()}
    assert len(rows) == 120 and set(rows.values()) == {"n000"}


def test_closure_routes_by_broadcast_threshold(spark):
    """Setting spark.sql.autoBroadcastJoinThreshold to -1 — which also
    disables broadcast joins — forces the distributed star path, and the
    two routes label identically (min node id per component)."""
    from data_pipeline_spark.pipeline.closure import connected_components

    edges = spark.createDataFrame(
        [(f"g{g}a", f"g{g}{m}") for g in range(5) for m in "bcde"]
        + [("b", "a"), ("b", "c"), ("c", "b"), ("x", "x"), ("y", "z")],
        ["src", "dst"],
    )
    local_stats: dict = {}
    local = {(r.node, r.component)
             for r in connected_components(edges, stats=local_stats).collect()}
    star_stats: dict = {}
    star = _with_threshold(spark, "-1", lambda: {
        (r.node, r.component)
        for r in connected_components(edges, stats=star_stats).collect()
    })
    assert local_stats["algorithm"] == "local"
    assert star_stats["algorithm"] == "star"
    assert local == star
    assert ("x", "x") not in local  # self-loop-only nodes get no label
    assert ("c", "a") in local and ("z", "y") in local


def test_rj01_range_join_is_bin_equijoin(spark):
    """The range join must compile to an equi-join on the bin column —
    a raw BETWEEN theta join shows up as BroadcastNestedLoopJoin."""
    plan = _plan(spark, "rj01_inflight_lineitems")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_p04_proximity_join_is_bin_bounded(spark):
    """p04 must equi-join on (user_id, hour bin) so per-task candidates are
    bounded by bin co-residency — a join keyed on user_id alone regenerates
    the O(k^2)-per-key pair explosion that stragglers on a hot key."""
    import re

    plan = _plan(spark, "p04_date_proximity_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join's left key list must carry BOTH user_id and probe_bin
    join_keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)(?:\([^)]*\))? (\[[^\]]*\])",
        plan,
    )
    assert any(
        "user_id" in k and "probe_bin" in k for k in join_keys
    ), f"no join keyed on (user_id, probe_bin): {join_keys}"


def test_reconcile_gate_queries_no_cartesian(spark):
    """The reconcile-family golden gates must stay equi-joins end to end:
    name/uri probes against broadcast indexes, never a theta/cross join."""
    for name in (
        "j01_name_vote_election",
        "j02_uri_equivalence",
        "j06_reconcile_min_equivs",
        # the hot/cold-split salted J1 path (r11): the explode-replicated
        # hot slice and the cold shuffle join must BOTH stay equi-joins
        "j14_salted_celebrity_reconcile",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """write_bucketed's contract: two tiers bucketed+sorted on the join key
    with equal bucket counts must sort-merge join with NO Exchange and NO
    Sort on either side — the co-located join every SCALE.md "bucketed by
    the key at scale" note relies on."""
    from data_pipeline_spark.catalog import load_table
    from data_pipeline_spark.sinks.exports import write_bucketed

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    items = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "bt_orders", "o_orderkey", str(tmp_path / "o"), n_buckets=4)
    write_bucketed(
        items.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bt_lineitem", "o_orderkey", str(tmp_path / "l"), n_buckets=4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would auto-broadcast; the claim under test is the
        # co-located SMJ path a 100TB fact-fact join takes, so disable it
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bt_orders").join(spark.table("bt_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == items.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_orders")
        spark.sql("DROP TABLE IF EXISTS bt_lineitem")


def _bucket_files(d: str) -> list[int]:
    """Bucket id of every data file of the bucketed table at ``d``, from
    the ``_<bucket>`` suffix Spark's bucketed writer puts in file names."""
    import os

    d = d.removeprefix("file:")
    return sorted(
        int(re.search(r"_(\d+)(?:\..*)?$", f).group(1))
        for f in os.listdir(d) if f.endswith(".parquet")
    )


def test_write_bucketed_one_file_per_bucket(spark, tmp_path):
    """write_bucketed hash-partitions by the key into the bucket count
    before the bucketed write, so a 6-partition input becomes exactly
    one file per bucket (not one per bucket per input partition)."""
    from data_pipeline_spark.sinks.exports import write_bucketed

    df = spark.range(0, 2000, numPartitions=6).selectExpr("CAST(id AS STRING) AS k")
    try:
        write_bucketed(df, "bt_one_file", "k", str(tmp_path / "t"), n_buckets=4)
        assert _bucket_files(str(tmp_path / "t")) == [0, 1, 2, 3]
        assert spark.table("bt_one_file").count() == 2000
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_one_file")


def test_closure_star_variant_matches_and_converges_fast(spark):
    """The distributed star path on the pathological long chain: O(log n)
    rounds, each ONE action of at most three jobs (two window exchanges
    plus the in-band fixpoint count) with no exceptAll set comparison,
    and the same labels as the local path."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.pipeline.closure import (
        _star_round,
        connected_components,
        connected_components_star,
    )

    chain = _chain(spark).localCheckpoint()
    stats: dict = {}
    labels, jobs = _count_jobs(
        spark, lambda: connected_components_star(chain, stats=stats)
    )
    rows = {r.node: r.component for r in labels.collect()}
    assert set(rows.values()) == {"n000"}
    assert len(rows) == 120
    assert stats["rounds"] <= 10, f"star chain took {stats['rounds']} rounds"
    assert jobs <= 3 * stats["rounds"], f"{jobs} jobs in {stats['rounds']} rounds"
    canon = chain.select(F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo"))
    plan = _star_round(canon)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Except" not in plan and "replicaterows" not in plan, plan
    assert rows == {r.node: r.component for r in connected_components(chain).collect()}


def test_closure_long_ids_keep_type(spark):
    """Long node ids (dedup's integer doc ids, here beyond 2^32) come back
    as longs on both routes — the Arrow round trip must not narrow or
    stringify them."""
    from data_pipeline_spark.pipeline.closure import connected_components

    big = 1 << 40
    edges = spark.createDataFrame(
        [(big + 3, big + 1), (big + 1, big + 2), (big + 7, big + 8)],
        "src bigint, dst bigint",
    )
    want = {(big + 1, big + 1), (big + 2, big + 1), (big + 3, big + 1),
            (big + 7, big + 7), (big + 8, big + 7)}
    for threshold in (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"), "-1"):
        out = _with_threshold(
            spark, threshold, lambda: connected_components(edges)
        )
        assert dict(out.dtypes) == {"node": "bigint", "component": "bigint"}
        assert {(r.node, r.component) for r in out.collect()} == want


def test_bucketed_model_traversal_edges_side_no_exchange(spark, tmp_path):
    """The DSL model (materialize_model): a traversal's corpus-scale
    edges side must read pre-bucketed data with NO Exchange of its own —
    only the sub-plan side shuffles to the bucket count.  This is the
    per-hop exchange elimination the 100 TB serving design relies on
    (41M-row edge relations at the 30x protocol scale)."""
    from data_pipeline_spark.plans.model import (
        build_edges,
        build_entities,
        load_planner,
        materialize_model,
    )
    from data_pipeline_spark.plans.planner import SearchPlanner

    path = str(tmp_path / "pqm")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_abs = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # tiny test tables would broadcast; the claim is the shuffle path.
        # autoBucketedScan off + shuffle.partitions == bucket count: the
        # bucket layout only replaces the exchange when its partitioning
        # SATISFIES the join's required distribution — the model takes
        # its bucket count from the session's shuffle parallelism (and
        # Spark's autoBucketedScan heuristic otherwise falls back to a
        # plain scan when buckets < target parallelism); this pin must
        # not depend on what partition count an earlier test left on the
        # shared session
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        materialize_model(spark, SF, path)
        planner = load_planner(spark, path)

        # the same data WITHOUT bucketing metadata: reading the table's
        # files as plain parquet drops the bucket spec — the unbucketed twin
        flat = SearchPlanner(
            spark.read.parquet(f"{path}/entities"),
            spark.read.parquet(f"{path}/edges_subj"),
            edges_object_keyed=spark.read.parquet(f"{path}/edges_obj"),
        )

        def n_exchanges(p, q):
            plan = p.plan(q)._jdf.queryExecution().executedPlan().toString()
            return (
                sum(1 for line in plan.splitlines()
                    if line.lstrip(" :+-*(").startswith("Exchange")),
                plan,
            )

        for q in (
            'AND(type=customer, in_nation(name="NATION_7"))',   # forward: obj-keyed
            '^placed_by(AND(type=order, number>100))',           # inverse: subj-keyed
        ):
            nb, plan_b = n_exchanges(planner, q)
            nf, _ = n_exchanges(flat, q)
            # the hop's edges-side exchange is eliminated by the bucket
            # layout; the scan must actually be the bucketed read
            assert nb == nf - 1, f"{q}: bucketed {nb} vs flat {nf}\n{plan_b}"
            assert "Bucketed: true" in plan_b, q
        # and the persisted model answers as the unpersisted union model
        q = 'AND(type=customer, in_nation(name="NATION_7"))'
        ids_b = {r.id for r in planner.plan(q).collect()}
        live = SearchPlanner(build_entities(spark, SF), build_edges(spark, SF))
        ids_u = {r.id for r in live.plan(q).collect()}
        assert ids_b == ids_u and ids_b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", prev_abs
        )
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        for t in ("pqm_edges_subj", "pqm_edges_obj"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_d19_contamination_broadcasts_benchmark_side(spark):
    """The decontamination join must broadcast the bounded benchmark
    n-gram set and meet on the md5 key — never shuffle raw text or fall
    into a nested-loop join."""
    plan = _plan(spark, "d19_benchmark_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_xml_mapper_gates_parse_jvm_side(spark):
    """The from_xml source mappers (geonames, VIAF) must keep their XML
    parse inside the JVM: the only Python in their gate plans is the F1
    pandas_udf date tail — no row-at-a-time BatchEvalPython anywhere,
    and no Python at all for geonames (it has no date path)."""
    plan = _plan(spark, "u07_geonames_place_gate")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # fully JVM-side
    plan = _plan(spark, "u10_viaf_cluster_gate")
    assert "BatchEvalPython" not in plan  # Arrow-batched F1 tail only


def test_d21_d23_are_single_scan_no_shuffle(spark):
    """The Gopher rules (d21) and the hashed-linear scorer (d23) are
    per-row projections: one FileScan, no aggregation/join shuffle, no
    Python (the only Exchange allowed is the registry's deterministic
    output sort — rangepartitioning, not hashpartitioning)."""
    for name in ("d21_gopher_quality", "d23_hashed_linear_score"):
        plan = _plan(spark, name)
        assert "hashpartitioning" not in plan, name
        assert "HashAggregate" not in plan, name
        assert "Join" not in plan, name
        assert plan.count("FileScan") == 1, name
        assert "Python" not in plan, name


def test_d22_windows_only_overcap_domains(spark):
    """d22's row_number window must sit behind the broadcast routing
    join (only over-cap domains are ranked); the under-cap branch is an
    anti-join pass-through with no Window and no sort."""
    plan = _plan(spark, "d22_domain_cap")
    assert plan.count("Window") == 1
    # the routing joins (semi for capped, anti for pass-through) both
    # broadcast the tiny over-cap domain list
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    anti = plan.split("LeftAnti", 1)
    assert len(anti) == 2 and "Window" not in anti[1]


def test_d29_chunking_is_scan_only(spark):
    """Chunking is a per-row fan-out: no aggregate, no join, one scan."""
    plan = _plan(spark, "d29_doc_chunking")
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan
    assert "Join" not in plan
    assert plan.count("FileScan") == 1


def test_d27_prev_index_join_meets_on_fingerprint(spark):
    """The incremental-dedup admission must meet the previous-build
    index on the fingerprint hash with the bounded index side broadcast
    — text is consumed by the scan-side md5 projection and never
    shuffles (the exchange above the join carries fingerprint/doc_id
    only)."""
    plan = _plan(spark, "d27_incremental_dedup")
    assert "BroadcastHashJoin [fingerprint" in plan
    assert "SortMergeJoin" not in plan
    # the only hash exchanges are on the fingerprint (dup-class window),
    # never on raw text
    import re

    for part in re.findall(r"hashpartitioning\(([^,]+)", plan):
        assert part.startswith("fingerprint"), part


def test_rj02_overlap_join_is_bin_equijoin(spark):
    """The interval-overlap join must meet on (bin, nation) — a raw
    two-sided BETWEEN shows up as BroadcastNestedLoopJoin/Cartesian —
    and must have no distinct exchange (first-shared-bin emission)."""
    import re

    plan = _plan(spark, "rj02_overlapping_order_windows")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    join_keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)(?:\([^)]*\))? (\[[^\]]*\])",
        plan,
    )
    assert any("_bin" in k and "n_name" in k for k in join_keys), join_keys


def test_overlap_join_capped_long_tier_is_broadcast(spark):
    """With max_bins set, the over-long intervals must meet the other
    side through BROADCAST joins (they are few — that is the premise of
    the cap), while the short tier stays the bin equi-join: two
    broadcast sites, and no non-broadcast nested loop anywhere."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.operators.range_join import overlap_join

    base = spark.range(50).select(
        F.col("id").alias("a_id"),
        F.timestamp_seconds(1700000000 + (F.col("id") * 977) % 5000).alias("a_start"),
    ).withColumn(
        "a_end",
        F.timestamp_seconds(
            F.unix_timestamp("a_start")
            + F.when(F.col("a_id") % 17 == 0, 175000).otherwise(300)
        ),
    )
    other = base.select(
        F.col("a_id").alias("b_id"), F.col("a_start").alias("b_start"),
        F.col("a_end").alias("b_end"),
    )
    df = overlap_join(
        base, other, "a_start", "a_end", "b_start", "b_end",
        bin_seconds=600, max_bins=4,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # keyless long tiers are broadcast nested-loops over the FEW
    # outliers; both long tiers must carry the broadcast
    assert plan.count("BroadcastNestedLoopJoin BuildRight") + plan.count(
        "BroadcastNestedLoopJoin BuildLeft"
    ) == 2


def test_d38_span_join_meets_on_gram_hash(spark):
    """d38's duplicated-gram set must meet the positional relation on
    the md5 hash — raw gram text never crosses an exchange (every hash
    exchange is on gh or on the doc_id window key) — and the span merge
    is windows, not a self-join."""
    import re

    plan = _plan(spark, "d38_duplicate_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for part in re.findall(r"hashpartitioning\((\w+)", plan):
        assert part in ("gh", "doc_id"), part


def test_d37_semantic_dedup_confines_pairs_to_clusters(spark):
    """SemDeDup's quadratic comparison must live INSIDE clusters: the
    pair stage is an equi-join on cluster_id, the only nested-loop
    joins are the broadcast-centroid assignments (bounded at k=16
    rows), and there is no corpus-level Cartesian anywhere."""
    import re

    plan = _plan(spark, "d37_semantic_dedup")
    assert "CartesianProduct" not in plan
    join_keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)(?:\([^)]*\))? (\[[^\]]*\])",
        plan,
    )
    assert any("cluster_id" in k for k in join_keys), join_keys
    # nested loops appear ONLY with a broadcast build side (the k=16
    # centroid relation); none may be unbounded
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) in ("BuildRight", "BuildLeft")


def test_d31_bpe_scoring_partial_aggs_and_topk(spark):
    """BPE merge scoring must partial-aggregate both tiers (word counts,
    pair scores) and finish with per-partition top-k, never a full sort —
    the shape that keeps vocab induction vocab-bounded at 100TB."""
    plan = _plan(spark, "d31_bpe_merge_scores")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # two partial+final pairs


def test_d34_simhash64_banded_no_theta_selfjoin(spark):
    """d34's 64-bit pair generation must stay the segment-banded
    equi-join (no Cartesian/NestedLoop) with no pair-keyed distinct —
    same contract as d08, at the production fingerprint width."""
    import re

    plan = _plan(spark, "d34_simhash64_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pair_dedup = re.findall(r"HashAggregate\(keys=\[id_a[^\]]*id_b", plan)
    assert not pair_dedup, pair_dedup


def test_d35_tiered_pairs_border_only_touches_arrays(spark):
    """The layered verify's contract: shingle ARRAYS may enter the plan
    only on the exact-verify branch (the borderline band), never on the
    estimate-accept branch — and the candidate generation stays the
    banded equi-join with no theta self-join anywhere."""
    import re

    plan = _plan(spark, "d35_tiered_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the shingle-array tier feeds exactly the two sides of the
    # borderline exact-verify join — the estimate branch never reads it
    sh_scans = re.findall(r"Scan ExistingRDD\[id#\d+L?,\s*sh#\d+\]", plan)
    assert len(sh_scans) == 2, sh_scans
    assert "array_intersect" in plan


def test_d36_tiered_clean_no_theta_and_linear_output(spark):
    """The production corpus-clean composition must contain no theta
    self-join at any stage (minhash band join, simhash64 segment join,
    CC rounds, quality gate) — pairs are intermediates, output is the
    kept doc_id relation."""
    plan = _plan(spark, "d36_corpus_clean_tiered")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d39_removal_joins_on_doc_id_only(spark):
    """d39's removal stage must stay linear: the span relation meets the
    token arrays on a doc_id equi-join (the per-token positions exist
    only inside row-local higher-order functions, never as exchange
    rows), hash exchanges only on gh or doc_id, and no Cartesian
    anywhere."""
    import re

    plan = _plan(spark, "d39_substring_dedup_clean")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for part in re.findall(r"hashpartitioning\((\w+)", plan):
        assert part in ("gh", "doc_id"), part


def test_d40_capped_pairs_join_on_subcluster(spark):
    """The capped semantic dedup's pair stage must equi-join on BOTH
    cluster_id AND sub_id (the hard bound on the quadratic — an
    optimizer change that drops sub_id from the join keys reopens the
    mega-cluster pathology), the split-count side must broadcast
    (k-row sizes relation), and no corpus-level Cartesian anywhere."""
    import re

    plan = _plan(spark, "d40_semantic_dedup_capped")
    assert "CartesianProduct" not in plan
    join_keys = re.findall(
        r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)(?:\([^)]*\))? (\[[^\]]*\])",
        plan,
    )
    assert any("cluster_id" in k and "sub_id" in k for k in join_keys), join_keys
    # nested loops appear ONLY with a broadcast build side (the k=16
    # centroid relation); none may be unbounded
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) in ("BuildRight", "BuildLeft")


def test_d41_composed_build_no_theta_and_bounded_exchanges(spark):
    """The end-to-end training-data build must inherit every stage's
    scale shape: no corpus-level theta join anywhere (substring spans,
    minhash bands, simhash64, CC, quality), no Cartesian, and every
    nested-loop join broadcast-bounded."""
    plan = _plan(spark, "d41_training_data_build")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d42_hll_partial_agg_no_joins(spark):
    """The HLL sketch must collapse map-side: partial MAX per (source,
    register) before the exchange, and no join anywhere — exchange
    volume is O(registers x partitions) regardless of corpus size."""
    plan = _plan(spark, "d42_hll_cardinality")
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_d43_cms_partial_agg_and_broadcast_probes(spark):
    """The CMS build must partial-agg the 4x1024 counter cells map-side;
    the probe lookup joins the tiny probe-slot relation by broadcast
    (never a shuffle of the token stream against 40 rows)."""
    plan = _plan(spark, "d43_cms_heavy_hitters")
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_d44_histogram_window_over_tiny_agg(spark):
    """Quantiles come from the ~40-bin histogram: the corpus-sized scan
    feeds ONE partial-aggregated groupBy; the window and quantile-spec
    join run over histogram-sized data (spec side broadcast)."""
    plan = _plan(spark, "d44_token_histogram_quantiles")
    assert plan.count("HashAggregate") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_v06_pq_adc_ranks_without_vectors(spark):
    """The PQ-ADC estimate ranking must run over codes + broadcast LUT
    only: every join below the candidate cut is broadcast (codebook,
    LUT, norms of the query side, candidate list), no Cartesian, no
    corpus-sized sort-merge; the full-vector re-rank join is bounded by
    the broadcast candidate list."""
    plan = _plan(spark, "v06_ann_pq_adc")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_v07_ivf_pq_pruned_and_codes_only(spark):
    """IVF-PQ composes both scale levers, and the plan must show both:
    the centroid/codebook/LUT/probe/candidate sides are all broadcast
    (no Cartesian anywhere — every nested-loop is against a broadcast
    relation), and the only non-broadcast joins are the index-BUILD
    equi-joins (codes ⋈ assignment ⋈ norms on neighbor_id — persisted
    artifacts at 100 TB, never per-query work).  The ADC rank side
    enters through the probes broadcast join, i.e. partition-pruned to
    probed cells."""
    plan = _plan(spark, "v07_ann_ivf_pq")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 6
    # index-build equi-joins only; a 4th would mean a corpus-sized
    # shuffle leaked into the serving path
    assert plan.count("SortMergeJoin") <= 3


@pytest.mark.parametrize(
    "name",
    [
        "d51_prefix_filter_jaccard",
        "g03_pagerank",
        "a28_funnel_conversion",
        "a29_retention_cohorts",
        "d49_bloom_prev_membership",
        "d48_incremental_refresh",
    ],
)
def test_r9_queries_never_plan_products(spark, name):
    """Every round-9 query is equi-join-shaped by design: PageRank's
    edges x ranks, the funnel/cohort user joins, the prefix-filter
    candidate join and both refresh index joins all key on real columns
    — a Cartesian or nested-loop anywhere means a join condition was
    lost (audited at declaration time: 0 of either across all six)."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_d48_refresh_reads_delta_text_and_index_schemas_only(spark, tmp_path):
    """The incremental-refresh contract, pinned structurally: serving a
    refresh against STORED prev indexes must plan exactly one documents
    scan (the delta) and read the index files at their fingerprint-only
    schemas — no plan node may touch previous-corpus text, which is what
    makes the per-crawl cost O(delta + indexes) at any corpus age."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.catalog import load_table
    from data_pipeline_spark.queries.dedup import refresh_features, refresh_verdicts

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    prev_feat = refresh_features(docs.filter(F.col("doc_id") % 4 == 0))
    base = str(tmp_path / "refresh_idx")
    prev_feat.select("fp").distinct().write.parquet(f"{base}/fp")
    prev_feat.select("simhash").distinct().write.parquet(f"{base}/sim")

    delta = docs.filter(F.col("doc_id") % 4 != 0)
    out = refresh_verdicts(
        refresh_features(delta),
        spark.read.parquet(f"{base}/fp"),
        spark.read.parquet(f"{base}/sim"),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [b.split("ReadSchema: ")[1].split("\n")[0]
             for b in plan.split("FileScan parquet")[1:] if "ReadSchema: " in b]
    doc_scans = [s for s in scans if "text" in s]
    idx_scans = [s for s in scans if "text" not in s]
    # text is read ONLY for the delta (the 6-slice union re-reads the
    # delta branch, so several scans — each must carry the delta
    # predicate in its DataFilters, i.e. prev text never leaves a scan)
    assert doc_scans, plan
    for b in plan.split("FileScan parquet")[1:]:
        head = b.split("\n")[0]
        if "text" in head.split("ReadSchema: ")[-1]:
            assert "% 4) = 0)" in head, head
    # the index reads carry fingerprint-only schemas
    assert all(
        s.startswith("struct<fp:string") or s.startswith("struct<simhash:bigint")
        for s in idx_scans
    ), idx_scans


def test_v07_stored_index_dynamic_partition_pruning(spark, tmp_path):
    """The 100 TB claim 'a probe is a partition-pruned read' must be
    LITERAL on the stored index: with entries written partitioned by
    cluster_id, serving a query batch must plan a
    dynamicpruningexpression on the entries scan (Catalyst DPP from the
    broadcast probes join), so only the probed cells' files are read —
    and return rows identical to the self-contained path."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.catalog import load_table
    from data_pipeline_spark.operators.similarity import ivf_pq_index, knn_ivf_pq

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("nemb"))
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    cents, cb, entries = ivf_pq_index(corpus)
    base = str(tmp_path / "ivfpq")
    entries.write.partitionBy("cluster_id").parquet(f"{base}/entries")
    cents.write.parquet(f"{base}/cents")
    cb.write.parquet(f"{base}/cb")
    stored = (
        spark.read.parquet(f"{base}/cents"),
        spark.read.parquet(f"{base}/cb"),
        spark.read.parquet(f"{base}/entries"),
    )
    served = knn_ivf_pq(queries, corpus, k=5, nprobe=4, index=stored)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # the entries scan is the only partitioned read, so the pruning
    # expression names its partition column (the Location string is
    # truncated by toString, so match the filter, not the path)
    pruned_scans = [
        b
        for b in plan.split("FileScan parquet")[1:]
        if "dynamicpruningexpression(cluster_id" in b[:1200]
        and "PartitionFilters" in b[:1200]
    ]
    assert pruned_scans, plan
    inline = knn_ivf_pq(queries, corpus, k=5, nprobe=4)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, inline.collect()))


def test_d45_theta_filter_precedes_every_exchange(spark):
    """The theta sample filter must run scan-side (directly above the
    token explode, below the dedup exchange) so no shuffle ever carries
    the unsampled token stream; the full query reads the corpus through
    the materialized sketch tier exactly once, and the 20x20 pair frame
    is the one (bounded, broadcast) nested-loop join."""
    from data_pipeline_spark.catalog import load_table
    from data_pipeline_spark.queries.sketches import theta_sample

    tier = theta_sample(load_table(spark, SF, "documents"))
    tplan = tier._jdf.queryExecution().executedPlan().toString()
    lines = tplan.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate explode" in ln]
    assert gen, tplan
    for i in gen:  # the sample filter sits immediately above the explode
        assert "substring(md5(" in lines[i - 1], lines[i - 1]
    assert tplan.count("HashAggregate") >= 2  # partial dedup before exchange

    plan = _plan(spark, "d45_theta_sketch_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # the token stream enters only through the materialized tier; the
    # sole corpus scans left are the source-universe lookups (so a
    # source with an empty sketch still reports), each pruned to the
    # one 'source' column
    for scan in plan.split("FileScan parquet")[1:]:
        assert "ReadSchema: struct<source:string>" in scan.split("\n")[0], scan[:200]


def test_d46_split_is_shuffle_free(spark):
    """Split assignment is row-local: no hash-partitioned exchange, no
    join, no aggregate anywhere — the only Exchange is the registry
    wrapper's final presentation sort (rangepartitioning)."""
    plan = _plan(spark, "d46_leakage_safe_split")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_incremental_splice_broadcasts_delta_side(spark):
    """The round-10 claim that the incremental rebuild exchanges no
    corpus-sized relation: the blast/splice joins must compile to
    broadcast joins (delta side broadcast), never a SortMergeJoin over
    idmap_prev/prev_merged."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.pipeline.build import run_build
    from data_pipeline_spark.pipeline.incremental import incremental_build

    cust = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey").limit(200)
    ks = F.col("c_custkey").cast("string")
    records = cust.select(
        F.lit("srcA").alias("source"),
        ks.alias("identifier"),
        F.lit("Person").alias("rectype"),
        F.lit("2026-01-01T00:00:00").alias("record_time"),
        F.lit("create").alias("change"),
        F.to_json(
            F.struct(
                F.concat(F.lit("https://fixture.test/srcA/"), ks).alias("id"),
                F.lit("Person").alias("type"),
                F.concat(F.lit("A"), ks).alias("_label"),
            )
        ).alias("data"),
    )
    e = spark.createDataFrame
    idx = {
        "name_index": e([], "source string, name_clean string, target_identifier string, rectype string"),
        "uri_index": e([], "source string, ext_uri string, target_identifier string, rectype string"),
        "same_as": e([], "uri_a string, uri_b string"),
        "different_from": e([], "uri_a string, uri_b string"),
    }
    prev = run_build(spark, records, idx)
    changes = cust.limit(5).select(
        F.col("c_custkey").alias("seq"),
        F.lit("2026-02-01T00:00:00").cast("timestamp").alias("end_time"),
        F.lit("delete").alias("change"),
        F.concat(F.lit("https://fixture.test/srcA/"), ks).alias("object_uri"),
        F.lit(None).cast("string").alias("payload"),
    )
    plans = _executed_plans(spark, lambda: incremental_build(
        spark, records, changes, idx,
        idmap_prev=prev["idmap"], prev_merged=prev["merged"],
    )["merged_full"].collect())  # execute: AQE finalizes join strategies
    # FINAL adaptive plans of every execution, the slice rebuild's tier
    # checkpoints included: the splice anti-joins (yuid keys, prev_merged
    # side) and the blast membership joins (qua_uri keys, idmap_prev
    # side) must end up broadcast — statically hinted where the delta is
    # known (incremental.py), AQE-converted for the slice rebuild's
    # prev-idmap stability join (assign_yuids: comps is delta-sized at
    # runtime).  Sort-merge on other keys INSIDE the delta-sized slice
    # (e.g. the closure's uri-keyed singleton anti-join) is fine
    finals = [p.split("== Initial Plan ==")[0] for p in plans]
    assert any("BroadcastHashJoin" in f for f in finals)
    for plan, final in zip(plans, finals):
        for node in re.findall(r"SortMergeJoin[^(\n]*\((\d+)\)", final):
            keys = plan.split(f"\n({node}) SortMergeJoin", 1)[1].split("\n\n", 1)[0]
            if "yuid" in keys or "qua_uri" in keys:
                raise AssertionError(
                    f"corpus-sided splice/blast join stayed sort-merge: {keys}"
                )


def test_incremental_crawl_job_budget(spark):
    """A crawl pays once per relation: one deduped feed checkpoint, one
    blast that carries its yuids (no second idmap pass for the affected
    yuids), the slice rebuilt through the merge chain only (no merged-docs
    tier), no empty-idmap probe, and the records tier spliced from the
    slice instead of re-applying the feed to the corpus.  The crawl plus
    forcing the three tiers a crawl commits is pinned at its job count;
    the shape before those changes launched 69 jobs here."""
    from pyspark.sql import functions as F

    from data_pipeline_spark.pipeline.build import run_build
    from data_pipeline_spark.pipeline.fixtures import fixture_tables
    from data_pipeline_spark.pipeline.incremental import incremental_build

    t = fixture_tables(spark)
    idx = {k: t[k] for k in ("name_index", "uri_index", "same_as", "different_from")}
    prev = run_build(spark, t["records"], idx, idmap_prev=t["idmap_prev"])
    changes = t["changes"].withColumn("end_time", F.col("end_time").cast("timestamp"))

    def crawl():
        inc = incremental_build(
            spark, t["records"], changes, idx, idmap_prev=prev["idmap"],
            prev_merged=prev["merged"], last_harvest="2026-01-10 00:00:00",
        )
        for tier in ("merged_full", "idmap_full", "records"):
            inc[tier].write.format("noop").mode("overwrite").save()

    _, jobs = _count_jobs(spark, crawl)
    assert jobs <= 51, f"crawl launched {jobs} jobs"


@pytest.mark.parametrize("name", [
    "a02_skewed_merge_fold",
    "r11_incremental_build",
    "dsl_q12_any_rel_date_text",
    "d52_capped_tier_pairs",
    "d53_quality_keeper_election",
    "j09_closure_star",
])
def test_round10_queries_no_cartesian(spark, name):
    """Plan hygiene for the round-10 declarations: no CartesianProduct
    and no BroadcastNestedLoopJoin anywhere in the optimized plan — every
    join in these operators is an equi-join (banded, keyed, or
    component-keyed) by design."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsl_q13_serves_from_bucketed_tables(spark):
    """dsl_q13 must actually serve from the PERSISTED bucketed model:
    its executed plan reads the bucketed edge table (a regression that
    silently falls back to the in-memory union model would still return
    correct rows — the read path is the claim).  serving_planner
    memoizes per (application, sf_dir): the second call must not
    rematerialize."""
    from data_pipeline_spark.plans import model

    model._SERVING.clear()
    df = QUERIES["dsl_q13_bucketed_serving_inverse"].spark_fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert model.serving_prefix(SF) + "_edges_subj" in plan, plan
    assert "Bucketed: true" in plan, plan
    n = len(model._SERVING)
    QUERIES["dsl_q13_bucketed_serving_inverse"].spark_fn(spark, SF)
    assert len(model._SERVING) == n


def test_serving_edge_tables_sized_by_shuffle_partitions(spark):
    """serving_planner's edge tables take the session's
    spark.sql.shuffle.partitions as their bucket count and hold one file
    per bucket; a shuffle-join traversal still reads them as a bucketed
    scan (autoBucketedScan left on), and dsl_q13 still matches its
    oracle over them."""
    from data_pipeline_spark.plans import model

    from .oracle_harness import compare, duckdb_con

    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        model._SERVING.clear()
        planner = model.serving_planner(spark, SF)
        prefix = model.serving_prefix(SF)
        wh = spark.conf.get("spark.sql.warehouse.dir")
        for t in ("edges_subj", "edges_obj"):
            assert _bucket_files(f"{wh}/{prefix}/{t}") == [0, 1, 2, 3, 4], t
        # tiny test tables would broadcast; the claim is the shuffle path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for q, t in (
            ('AND(type=customer, in_nation(name="NATION_7"))', "_edges_obj"),
            ("^placed_by(AND(type=order, number>100))", "_edges_subj"),
        ):
            plan = planner.plan(q)._jdf.queryExecution().executedPlan().toString()
            assert prefix + t in plan and "Bucketed: true" in plan, plan
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        q = QUERIES["dsl_q13_bucketed_serving_inverse"]
        con = duckdb_con(SF)
        try:
            ok, msg = compare(q.spark_fn(spark, SF), con, q.oracle)
        finally:
            con.close()
        assert ok, msg
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        model._SERVING.clear()


def test_serving_planner_rematerializes_across_catalog_loss(spark):
    """materialize_model must be re-runnable when the previous process
    left the model directory behind but the (in-memory) catalog
    registration is gone — the LOCATION_ALREADY_EXISTS failure mode of a
    fresh driver session reusing the repo CWD (ADVICE-class robustness;
    hit by the first cross-session dsl_q13 run)."""
    import os

    from data_pipeline_spark.plans import model

    model._SERVING.clear()
    model.serving_planner(spark, SF)
    # simulate a fresh process: registrations dropped, directories kept
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    prefix = model.serving_prefix(SF)
    for t in ("_edges_subj", "_edges_obj"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}{t}")
    assert os.path.isdir(os.path.join(wh, prefix, "edges_subj"))
    model._SERVING.clear()
    p = model.serving_planner(spark, SF)  # must not raise
    assert p.plan("AND(type=nation)").count() == 25


def test_serving_tables_are_process_unique_and_reaped(spark):
    """Concurrent processes sharing one spark-warehouse must not rebuild
    each other's serving tables mid-read (the dsl_q13
    FAILED_READ_FILE.FILE_NOT_EXIST flake): the prefix carries this
    process's pid, and the reaper removes only dirs whose owning pid is
    dead — a live peer's model, this process's own, and un-suffixed
    dirs (no pid, so no proof their owner is gone) are untouched."""
    import os
    import shutil

    from data_pipeline_spark.plans import model

    assert model.serving_prefix(SF).endswith(f"_p{os.getpid()}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    os.makedirs(wh, exist_ok=True)
    dead = os.path.join(wh, "serve_x_p999999999")
    legacy = os.path.join(wh, "serve_x")
    mine = os.path.join(wh, f"serve_x_p{os.getpid()}")
    for d in (dead, legacy, mine):
        os.makedirs(d, exist_ok=True)
    try:
        model._reap_stale_serving_dirs(spark)
        assert not os.path.isdir(dead), "dead pid's dir must be reaped"
        assert os.path.isdir(legacy), "un-suffixed dir has no liveness proof"
        assert os.path.isdir(mine), "own (live) dir must survive"
    finally:
        for d in (dead, legacy, mine):
            shutil.rmtree(d, ignore_errors=True)


def test_serving_dirs_removed_at_clean_exit(tmp_path):
    """A process removes its OWN ``serve_*_p<pid>`` warehouse dir at
    clean interpreter exit instead of leaving it for a later process's
    stale-dir reaper; another pid's dirs are not its to touch.  Runs a
    real child interpreter; the model build is stubbed to just create the
    model's three table dirs, so the drill needs no JVM."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wh = str(tmp_path / "warehouse")
    other = os.path.join(wh, "serve_x_p1")  # pid 1: alive, not ours
    os.makedirs(other)
    script = f"""
import os, sys
sys.path.insert(0, {repo!r})
from data_pipeline_spark.plans import model

class _Conf:
    def get(self, key):
        return {wh!r}

class _Spark:
    conf = _Conf()
    class sparkContext:
        applicationId = "app"

def fake_materialize(spark, sf_dir, path):
    for t in ("entities", "edges_subj", "edges_obj"):
        os.makedirs(os.path.join(path, t))

model.materialize_model = fake_materialize
model.load_planner = lambda spark, path: object()
model.serving_planner(_Spark(), "sf_x")
own = [d for d in os.listdir({wh!r}) if d.endswith(f"_p{{os.getpid()}}")]
print(os.getpid(), len(os.listdir(os.path.join({wh!r}, own[0]))))
"""
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=120, check=True).stdout.split()
    pid, live_dirs = int(out[0]), int(out[1])
    assert live_dirs == 3  # the model existed while the process ran
    left = [d for d in os.listdir(wh) if d.endswith(f"_p{pid}")]
    assert left == [], f"serving dirs survived a clean exit: {left}"
    assert os.path.isdir(other)


def test_b02_export_plan_hygiene(spark):
    """The export gate's whole chain (every run_build checkpoint ->
    extract_edges -> to_ntriples): every join keyed (no CartesianProduct
    / BroadcastNestedLoopJoin) in every SQL execution the gate runs, and
    the NT serialization adds NO exchange of its own — it must stay a
    projection over the edges tier (the reference's export phase is
    scan-shaped: run-export.py streams records through a mapper)."""
    from data_pipeline_spark.pipeline.edges import to_ntriples

    _assert_gate_joins_keyed(spark, "b02_entity_export")
    # the serializer is a narrow projection: over an exchange-free input
    # its executed plan must contain no Exchange at all
    edges = spark.createDataFrame(
        [("s1", "rdf:type", "Person"), ("s1", "member_of", "https://x.test/g")],
        "subject string, predicate string, object string",
    )
    nt_plan = to_ntriples(edges)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in nt_plan, nt_plan


def test_b03_facets_names_plan_hygiene(spark):
    """The facets/names export tiers, every SQL execution of the whole
    chain: keyed joins only — same contract as b02's edges-tier pin."""
    _assert_gate_joins_keyed(spark, "b03_entity_facets_names")


def test_b04_texts_plan_hygiene(spark):
    """The texts tier + word query, every SQL execution of the whole
    chain: keyed joins only."""
    _assert_gate_joins_keyed(spark, "b04_entity_texts")


def test_entity_state_fold_broadcasts_touched_keys(spark, tmp_path):
    """The delta-state fold's load-bearing scale property: the base tier
    is the corpus, the touched sets are delta-sized — so the fold's base
    anti-join and the winner join must BROADCAST the touched side.  A
    silent flip to sort-merge would shuffle the corpus per fold read
    (exactly the O(corpus) exchange the layout exists to avoid)."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from data_pipeline_spark.streaming.entity_stream import (
        entity_build_batch,
        init_state,
        latest_state,
    )

    def doc(k, label):
        return _json.dumps(
            {"id": f"https://fixture.test/srcA/{k}", "type": "Person",
             "_label": label}
        )

    records = spark.createDataFrame(
        [("srcA", str(k), "Person", "2026-01-01T00:00:00", "create",
          doc(k, f"A{k}")) for k in range(6)],
        "source string, identifier string, rectype string, record_time string, change string, data string",
    )
    e = spark.createDataFrame
    indexes = {
        "name_index": e([], "source string, name_clean string, target_identifier string, rectype string"),
        "uri_index": e([], "source string, ext_uri string, target_identifier string, rectype string"),
        "same_as": e([], "uri_a string, uri_b string"),
        "different_from": e([], "uri_a string, uri_b string"),
    }
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    init_state(spark, records, indexes, state_dir)
    changes = e(
        [(1, "2026-02-01 00:00:00", "update", "https://fixture.test/srcA/3",
          doc(3, "A3-v2"))],
        "seq bigint, end_time string, change string, object_uri string, payload string",
    ).withColumn("end_time", F.col("end_time").cast("timestamp"))
    entity_build_batch(spark, changes, state_dir, indexes,
                       checkpoint=ckpt, batch_id=0)
    # commit batch 0 by hand (committed_batch_ids lists digit filenames)
    _os.makedirs(_os.path.join(ckpt, "commits"))
    open(_os.path.join(ckpt, "commits", "0"), "w").close()

    merged = latest_state(spark, state_dir, ckpt)["merged"]
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    # and the fold still reads correctly through this plan
    labels = {_json.loads(r["data"])["_label"] for r in merged.collect()}
    assert "A3-v2" in labels and "A3" not in labels
