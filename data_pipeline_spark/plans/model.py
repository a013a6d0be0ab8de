"""Entity/edge model over the testdata star schema — the search-DSL's
queryable universe (the Spark analog of the reference's flattened
triples+facets form, SURVEY §1.5/§2.9).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table


def build_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform entities(id, type, name, number, date, anytext) over all
    testdata rows.

    ``date`` and ``anytext`` complete the reference's field-type table
    (searchConfig.json via ml_lexer.py:283-299): every configured leaf
    type — string, xstring (exact identifier), date (the *DateFloat
    range fields) and number — now has a typed column in the model, and
    ``anytext`` is the `text -> *AnyText` cross-field surface (the
    record's searchable text in one column, word-queryable with `~`)."""

    def ent(df, prefix, typ, key, name_col, number_col, date_col=None):
        name = F.col(name_col) if name_col else F.lit(None).cast("string")
        return df.select(
            F.concat(F.lit(prefix), F.col(key).cast("string")).alias("id"),
            F.lit(typ).alias("type"),
            name.alias("name"),
            (
                F.col(number_col).cast("double")
                if number_col
                else F.lit(None).cast("double")
            ).alias("number"),
            (
                F.col(date_col).cast("date")
                if date_col
                else F.lit(None).cast("date")
            ).alias("date"),
            F.lower(F.concat_ws(" ", name, F.lit(typ))).alias("anytext"),
        )

    return (
        ent(load_table(spark, sf_dir, "customer"), "customer:", "customer", "c_custkey", "c_name", "c_acctbal")
        .unionAll(ent(load_table(spark, sf_dir, "supplier"), "supplier:", "supplier", "s_suppkey", "s_name", "s_acctbal"))
        .unionAll(ent(load_table(spark, sf_dir, "part"), "part:", "part", "p_partkey", "p_name", "p_retailprice"))
        .unionAll(ent(load_table(spark, sf_dir, "nation"), "nation:", "nation", "n_nationkey", "n_name", None))
        .unionAll(ent(load_table(spark, sf_dir, "region"), "region:", "region", "r_regionkey", "r_name", None))
        .unionAll(ent(load_table(spark, sf_dir, "orders"), "order:", "order", "o_orderkey", None, "o_totalprice", "o_orderdate"))
    )


def build_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edges(subject, predicate, object) — FK relations as triples."""

    def edge(df, s_prefix, s_col, pred, o_prefix, o_col):
        return df.select(
            F.concat(F.lit(s_prefix), F.col(s_col).cast("string")).alias("subject"),
            F.lit(pred).alias("predicate"),
            F.concat(F.lit(o_prefix), F.col(o_col).cast("string")).alias("object"),
        )

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        edge(orders, "order:", "o_orderkey", "placed_by", "customer:", "o_custkey")
        .unionAll(edge(cust, "customer:", "c_custkey", "in_nation", "nation:", "c_nationkey"))
        .unionAll(edge(supp, "supplier:", "s_suppkey", "in_nation", "nation:", "s_nationkey"))
        .unionAll(edge(nation, "nation:", "n_nationkey", "in_region", "region:", "n_regionkey"))
        .unionAll(edge(li, "order:", "l_orderkey", "contains", "part:", "l_partkey"))
        .unionAll(edge(li, "order:", "l_orderkey", "supplied_by", "supplier:", "l_suppkey"))
    )


def materialize_model(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the entity/edge model as parquet tables (the production
    form: SURVEY §1.5's extracted relational view). Edges are written
    twice-sorted — INVERSE traversals join edges on SUBJECT and forward
    traversals on OBJECT (planner.Rel), so each direction gets the
    layout clustered by its join key.  For the exchange-eliminating
    form use materialize_model_bucketed."""
    import os

    build_entities(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(path, "entities")
    )
    edges = build_edges(spark, sf_dir)
    edges.sortWithinPartitions("subject").write.mode("overwrite").parquet(
        os.path.join(path, "edges_by_subject")
    )
    edges.sortWithinPartitions("object").write.mode("overwrite").parquet(
        os.path.join(path, "edges_by_object")
    )


def load_planner(spark: SparkSession, path: str):
    """Planner over a materialized model directory (no cache warm-up —
    lineage is already truncated at the parquet boundary).  Inverse hops
    read the subject-clustered layout, forward hops the object-clustered
    one."""
    import os

    from .planner import SearchPlanner

    return SearchPlanner(
        spark.read.parquet(os.path.join(path, "entities")),
        spark.read.parquet(os.path.join(path, "edges_by_subject")),
        edges_object_keyed=spark.read.parquet(os.path.join(path, "edges_by_object")),
    )


def materialize_model_bucketed(
    spark: SparkSession, sf_dir: str, prefix: str, n_buckets: int = 32
) -> None:
    """The exchange-eliminating model form: edges saved as BUCKETED
    tables, one bucketed+sorted by subject (inverse hops' join key), one
    by object (forward hops').  A traversal's edge side then reads
    pre-partitioned buckets and Catalyst plans NO Exchange on the
    corpus-scale relation — only the (sub-plan-sized) other side
    shuffles to the bucket count.  At 100 TB that removes a
    full-edge-relation exchange PER HOP (41M rows per exchange already
    at the 30x protocol scale).  Plan-pinned in
    tests/test_plan_quality.py."""
    edges = build_edges(spark, sf_dir)
    for suffix in ("entities", "edges_subj", "edges_obj"):
        _drop_managed(spark, f"{prefix}_{suffix}")
    build_entities(spark, sf_dir).write.mode("overwrite").saveAsTable(
        f"{prefix}_entities"
    )
    (
        edges.write.mode("overwrite")
        .bucketBy(n_buckets, "subject").sortBy("subject")
        .saveAsTable(f"{prefix}_edges_subj")
    )
    (
        edges.write.mode("overwrite")
        .bucketBy(n_buckets, "object").sortBy("object")
        .saveAsTable(f"{prefix}_edges_obj")
    )


def _drop_managed(spark: SparkSession, table: str) -> None:
    """Make saveAsTable re-runnable ACROSS processes: a fresh session's
    in-memory catalog does not know last run's managed table, so
    mode('overwrite') cannot drop it and the leftover warehouse
    directory raises LOCATION_ALREADY_EXISTS.  Drop the registration if
    present, then clear any orphaned location."""
    import shutil
    from urllib.parse import urlparse

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(warehouse)
    root = parsed.path if parsed.scheme in ("", "file") else None
    if root:
        import os

        leftover = os.path.join(root, table.lower())
        if os.path.isdir(leftover):
            shutil.rmtree(leftover, ignore_errors=True)


def load_planner_bucketed(spark: SparkSession, prefix: str):
    """Planner over materialize_model_bucketed tables."""
    from .planner import SearchPlanner

    return SearchPlanner(
        spark.table(f"{prefix}_entities"),
        spark.table(f"{prefix}_edges_subj"),
        edges_object_keyed=spark.table(f"{prefix}_edges_obj"),
    )


def serving_prefix(sf_dir: str) -> str:
    """Process-unique managed-table prefix for the serving model.

    The pid suffix is load-bearing: processes sharing one repo CWD share
    one spark-warehouse, and with a shared name every fresh process
    REBUILDS the tables (a new session's catalog never knows the old
    registration — that is what _drop_managed exists for), so a rebuild
    in process B deletes the part-files process A is mid-read on
    (observed twice: FAILED_READ_FILE.FILE_NOT_EXIST on dsl_q13 whenever
    a bench/sweep ran beside the test suite).  Cross-process sharing was
    already zero; the unique name removes only the interference.  Dirs
    orphaned by dead processes are reaped in serving_planner."""
    import os

    return (
        "serve_" + re.sub(r"\W+", "_", sf_dir).strip("_") + f"_p{os.getpid()}"
    )


def _reap_stale_serving_dirs(spark: SparkSession) -> None:
    """Best-effort removal of serving-model warehouse dirs whose owning
    process is gone.  Only ``serve_*_p<pid>_*`` dirs of DEAD pids are
    touched, so a live concurrent session's tables are never disturbed;
    dirs without a pid suffix are left alone, since nothing proves their
    owner is gone.

    Assumptions: the warehouse is a local POSIX path (``os.kill(pid, 0)``
    is the liveness probe, so a non-file warehouse is skipped); every
    process sharing it runs on this host (pids are per-host, so another
    host's live owner would look dead); and the catalog is the in-memory
    one, so a dead process's table registrations died with it and
    removing the files orphans no catalog entry."""
    import os
    import shutil
    from urllib.parse import urlparse

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    parsed = urlparse(warehouse)
    root = parsed.path if parsed.scheme in ("", "file") else None
    if not root or not os.path.isdir(root):
        return
    pat = re.compile(r"^serve_.+_p(\d+)_(entities|edges_subj|edges_obj)$")
    for d in os.listdir(root):
        m = pat.match(d)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
            continue  # owner alive — leave its tables alone
        except ProcessLookupError:
            pass
        except PermissionError:
            continue  # alive under another uid
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def serving_planner(spark: SparkSession, sf_dir: str, n_buckets: int = 32):
    """The production SERVING path as one call: materialize the bucketed
    model once per (application, sf_dir) and answer every subsequent
    query from the persisted dual-layout tables — forward hops join the
    object-bucketed edges, inverse hops the subject-bucketed ones, so
    the corpus-scale edge relation never exchanges (exactly one fewer
    Exchange per hop; plan-pinned in tests/test_plan_quality.py).

    This is what dsl_q13 drives in the driver bench: build_planner's
    cached in-memory model measures QUERY plans, but the round-11
    serving win (dual-layout routing + bucketed layout,
    tools/measure_dsl_scale.py) lived only in a self-reported tool —
    a routing regression was driver-invisible (VERDICT r11 #4)."""
    key = (spark.sparkContext.applicationId, sf_dir, n_buckets)
    p = _SERVING.get(key)
    if p is None:
        _reap_stale_serving_dirs(spark)
        prefix = serving_prefix(sf_dir)
        materialize_model_bucketed(spark, sf_dir, prefix, n_buckets)
        p = load_planner_bucketed(spark, prefix)
        _SERVING[key] = p
    return p


_SERVING: dict = {}


def build_planner(spark: SparkSession, sf_dir: str):
    """Planner over a MATERIALIZED entity/edge model.

    `.cache()` here is load-bearing: DSL plans nest semi-joins over these
    relations, and with raw 6-way-union lineage at every leaf Catalyst's
    optimization time grows exponentially with traversal depth (measured:
    137s of pure `explain()` at depth 4). Caching truncates the lineage to
    an InMemoryRelation leaf — and mirrors the production design, where
    entities/edges are persistent extracted tables (SURVEY §1.5), not
    recomputed per query. Spark's CacheManager dedupes by canonicalized
    plan, so every build_planner() call in a session shares one copy.
    """
    from .planner import SearchPlanner

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _PLANNERS.get(key)
    if cached is not None:
        return cached
    planner = SearchPlanner(
        build_entities(spark, sf_dir).cache(), build_edges(spark, sf_dir).cache()
    )
    _PLANNERS[key] = planner
    return planner


# planner memo: building the 12-table union model costs ~5s of pure
# analysis per call even when the DATA is already cached (CacheManager
# dedupes storage, not DataFrame construction) — every DSL query in a
# session shares one planner instance instead.
_PLANNERS: dict = {}
