"""Entity/edge model over the testdata star schema — the search-DSL's
queryable universe (the Spark analog of the reference's flattened
triples+facets form, SURVEY §1.5/§2.9).

The model has one persisted form: entities as parquet plus the edges
bucketed twice, by subject and by object.  ``materialize_model`` writes
it, ``load_planner`` reads it back in any session, and
``serving_planner`` is the two over a process-unique warehouse dir,
once per session and input — the planner every DSL search uses.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, memo
from ..sinks.exports import write_bucketed


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


_EDGE_LAYOUTS = (("edges_subj", "subject"), ("edges_obj", "object"))
_EDGE_COLUMNS = "subject string, predicate string, object string"


def _table(path: str, layout: str) -> str:
    """Catalog name of one edge layout of the model at ``path``: the
    directory's name plus the layout."""
    base = re.sub(r"\W+", "_", os.path.basename(os.path.normpath(path))).strip("_")
    return f"{base}_{layout}"


def _meta_file(path: str) -> str:
    """The model's ``_META.json`` as a local file (a ``file:`` URI is
    accepted; the model directory must be on the local file system)."""
    return os.path.join(path.removeprefix("file:"), "_META.json")


def materialize_model(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the search model at ``path`` (SURVEY §1.5's extracted
    relational view): ``entities`` as parquet and the edges twice
    through ``sinks.exports.write_bucketed`` — ``edges_subj`` bucketed
    and sorted by subject (inverse hops' join key), ``edges_obj`` by
    object (forward hops').  A traversal's edge side then reads
    pre-partitioned buckets and Catalyst plans NO Exchange on the
    corpus-scale relation — only the sub-plan side shuffles to the
    bucket count (41M rows per exchange already at the 30x protocol
    scale).  Plan-pinned in tests/test_plan_quality.py.

    The bucket count is ``spark.sql.shuffle.partitions`` (the sizing
    under which the bucketed read satisfies a shuffle join's
    distribution), each table is one file per bucket, and
    ``_META.json`` records the count for ``load_planner``."""
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    build_entities(spark, sf_dir).write.mode("overwrite").parquet(
        os.path.join(path, "entities")
    )
    edges = build_edges(spark, sf_dir)
    for layout, key in _EDGE_LAYOUTS:
        write_bucketed(
            edges, _table(path, layout), key, os.path.join(path, layout), n_buckets
        )
    with open(_meta_file(path), "w") as f:
        json.dump({"buckets": n_buckets}, f)


def load_planner(spark: SparkSession, path: str):
    """Planner over a ``materialize_model`` directory, in this or any
    later session: both edge layouts are (re-)registered as bucketed
    tables over their files, so inverse hops read the subject-bucketed
    layout and forward hops the object-bucketed one, each with no
    Exchange of its own.  Re-registering drops only the catalog entry —
    the tables are external, their files stay."""
    from .planner import SearchPlanner

    with open(_meta_file(path)) as f:
        n_buckets = json.load(f)["buckets"]
    edges = {}
    for layout, key in _EDGE_LAYOUTS:
        table = _table(path, layout)
        location = os.path.abspath(os.path.join(path.removeprefix("file:"), layout))
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        spark.sql(
            f"CREATE TABLE `{table}` ({_EDGE_COLUMNS}) USING parquet"
            f" CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS"
            f" LOCATION '{location}'"
        )
        edges[layout] = spark.table(table)
    return SearchPlanner(
        spark.read.parquet(os.path.join(path, "entities")),
        edges["edges_subj"],
        edges_object_keyed=edges["edges_obj"],
    )


def serving_prefix(sf_dir: str) -> str:
    """Process-unique name of the serving model: its directory under
    the warehouse and the prefix of its edge tables.

    The pid suffix is load-bearing: processes sharing one repo CWD share
    one spark-warehouse, and with a shared name every fresh process
    REBUILDS the model (a new session's catalog never knows the old
    registration), so a rebuild in process B deletes the part-files
    process A is mid-read on (observed twice:
    FAILED_READ_FILE.FILE_NOT_EXIST on dsl_q13 whenever a bench/sweep
    ran beside the test suite).  Cross-process sharing was already zero;
    the unique name removes only the interference.  A process removes
    its own dir at clean exit; dirs orphaned by killed processes are
    reaped in serving_planner."""
    return (
        "serve_" + re.sub(r"\W+", "_", sf_dir).strip("_") + f"_p{os.getpid()}"
    )


_SERVE_DIR = re.compile(r"^serve_.+_p(\d+)$")


def _local_warehouse(spark: SparkSession) -> str | None:
    """The warehouse root as a local path; None for a non-file warehouse
    (the reapers below only act on local POSIX dirs)."""
    from urllib.parse import urlparse

    parsed = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    return parsed.path if parsed.scheme in ("", "file") and parsed.path else None


def _reap_stale_serving_dirs(spark: SparkSession) -> None:
    """Best-effort removal of serving-model warehouse dirs whose owning
    process is gone.  Only ``serve_*_p<pid>`` dirs of DEAD pids are
    touched, so a live concurrent session's model is never disturbed;
    dirs without a pid suffix are left alone, since nothing proves their
    owner is gone.

    Assumptions: the warehouse is a local POSIX path (``os.kill(pid, 0)``
    is the liveness probe, so a non-file warehouse is skipped); every
    process sharing it runs on this host (pids are per-host, so another
    host's live owner would look dead); and the catalog is the in-memory
    one, so a dead process's table registrations died with it and
    removing the files orphans no catalog entry."""
    import shutil

    root = _local_warehouse(spark)
    if not root or not os.path.isdir(root):
        return
    for d in os.listdir(root):
        m = _SERVE_DIR.match(d)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
            continue  # owner alive — leave its model alone
        except ProcessLookupError:
            pass
        except PermissionError:
            continue  # alive under another uid
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _reap_own_serving_dirs(root: str) -> None:
    """This process's ``serve_*_p<pid>`` dirs under ``root`` — run at
    clean interpreter exit, so a finished process leaves no serving
    model behind for a later process's stale-dir reaper."""
    import shutil

    if not os.path.isdir(root):
        return
    for d in os.listdir(root):
        m = _SERVE_DIR.match(d)
        if m and int(m.group(1)) == os.getpid():
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _reap_at_exit(spark: SparkSession) -> None:
    import atexit

    root = _local_warehouse(spark)
    if root and root not in _REAP_AT_EXIT:
        _REAP_AT_EXIT.add(root)
        atexit.register(_reap_own_serving_dirs, root)


_REAP_AT_EXIT: set = set()


# the tables build_entities and build_edges read: the serving model is
# rebuilt when any of them is regenerated in place
_MODEL_TABLES = ("customer", "supplier", "part", "nation", "region", "orders", "lineitem")


def serving_planner(spark: SparkSession, sf_dir: str):
    """The planner every DSL search uses: ``materialize_model`` once per
    (application, sf_dir) into a process-unique warehouse dir
    (``serving_prefix``), then ``load_planner`` over it — forward hops
    join the object-bucketed edges, inverse hops the subject-bucketed
    ones, so the corpus-scale edge relation never exchanges (exactly one
    fewer Exchange per hop; plan-pinned in tests/test_plan_quality.py).
    Later calls return the same planner from the session memo
    (``catalog.memo``) until one of ``_MODEL_TABLES`` changes on disk,
    which rematerializes the model over the new rows."""

    def build():
        _reap_stale_serving_dirs(spark)
        _reap_at_exit(spark)
        path = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir"), serving_prefix(sf_dir)
        )
        materialize_model(spark, sf_dir, path)
        return load_planner(spark, path)

    return memo(spark, sf_dir, _MODEL_TABLES, ("serving",), build)
