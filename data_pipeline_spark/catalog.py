"""Table catalog over the driver-generated parquet testdata.

Mirrors the reference's cache-tier scans (SURVEY §2.1 S8: full scan =
``spark.read.parquet``) — at 100TB these reads are partitioned columnar scans
with predicate pushdown and column pruning supplied by Catalyst.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The one session memo: every value the engine keeps between calls (a
# table's scan plan, a materialized curation tier, the serving model) is
# one entry here, keyed by (applicationId, abspath(sf_dir), key) and held
# with the input fingerprint it was built from.  A multi-threaded serving
# caller (the DSL CLI under a thread pool) shares it, so lookups and
# inserts take the lock; ``build`` runs outside it — it is the slow part,
# the values are immutable, and a double build on a concurrent miss is
# benign (last insert wins).
_MEMO: dict[tuple, tuple[str, object]] = {}
_MEMO_LOCK = threading.Lock()


def input_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Cheap identity of the tables' files: (path, size, mtime_ns) of
    every file under <sf_dir>/<table>.parquet.  Microseconds on a
    local listing — vs the ~100ms spark.read.parquet round trip a memoized
    scan plan avoids — and regenerating a table in place changes it, so
    the memo can never serve a value whose pinned file listing has been
    deleted."""
    parts: list[str] = []
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        files = [path]
        if os.path.isdir(path):
            files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
        for f in files:
            # a file deleted between listdir and stat (concurrent testdata
            # regen), or an absent table, just drops out — the next call
            # sees the new listing and the changed fingerprint rebuilds,
            # which is the behavior we want; it must not raise out of memo
            try:
                st = os.stat(f)
            except FileNotFoundError:
                continue
            parts.append(f"{os.path.relpath(f, sf_dir)}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def memo(spark: SparkSession, sf_dir: str, tables: tuple[str, ...], key: tuple, build):
    """``build()``, once per (application, sf_dir, key) while the
    ``input_fingerprint`` of ``tables`` stands.  A changed fingerprint
    (a table regenerated in place) rebuilds the entry and replaces it,
    so a stale value is never served; an insert drops the entries of
    other applications (a stopped context's plans and checkpoint blocks
    are dead, and keeping them pins its plan graphs)."""
    app = spark.sparkContext.applicationId
    mk = (app, os.path.abspath(sf_dir), key)
    fp = input_fingerprint(sf_dir, tables)
    with _MEMO_LOCK:
        hit = _MEMO.get(mk)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    with _MEMO_LOCK:
        for stale in [k for k in _MEMO if k[0] != app]:
            del _MEMO[stale]
        _MEMO[mk] = (fp, value)
    return value


def forget(kind: str) -> None:
    """Drop every memo entry whose key starts with ``kind``."""
    with _MEMO_LOCK:
        for k in [k for k in _MEMO if k[2][0] == kind]:
            del _MEMO[k]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One lazy scan plan per (application, sf_dir, table), memoized
    while the table's files stand.  ``spark.read.parquet`` costs a
    ~100ms schema-infer + file-listing driver round trip PER CALL
    (measured, SCALE.md round 11) — a 6-table query paid ~0.6s of pure
    plan-build before executing anything, which was the whole
    "small-query drift" of VERDICT r10.  DataFrames are immutable lazy
    plans, so reuse is free; the memo's input fingerprint means an
    in-place testdata regeneration rebuilds the plan instead of serving
    one over deleted part files."""

    def build() -> DataFrame:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if name != "events":
            return spark.read.parquet(path)
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects. Read nanos as int64 and truncate to microseconds
        # (integer div — doubles can't hold epoch-nanos exactly), matching
        # DuckDB's own nanos->micros truncation.
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    return memo(spark, sf_dir, (name,), ("table", name), build)


def spread_scan(df: DataFrame) -> DataFrame:
    """Raise parallelism before an explode amplification or heavy per-row
    stage when the scan produced fewer splits than cores: a small corpus
    arrives as one or two parquet files, and everything up to the first
    exchange then runs on that many tasks (measured: d19's gram stage
    7.2s -> 0.7s, d08's fingerprint build similarly bound).  No-op when
    the scan already has >= defaultParallelism input files — the 100TB
    case, thousands of them — or when the relation is not file-backed,
    so at scale this adds no shuffle.  The file count comes from
    inputFiles() (pure scan metadata): df.rdd.getNumPartitions() would
    EXECUTE the plan up front under AQE."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files == 0 or n_files >= target:
        return df
    return df.repartition(target)

def empty_relation(spark: SparkSession, schema: str) -> DataFrame:
    """A PROVABLY-empty DataFrame with the given schema.

    ``createDataFrame([], schema)`` plans as a LogicalRDD whose emptiness
    the optimizer cannot see; appending ``filter(false)`` lets
    PruneFilters fold the whole thing into an empty LocalRelation, which
    ``pipeline.reconcile._statically_empty`` detects at plan time to
    elide entire join stages against absent curated indexes (r15 opt,
    guide §2.4).  Zero-cost: the fold happens in the optimizer, no job.
    """
    from pyspark.sql import functions as F

    return spark.createDataFrame([], schema).filter(F.lit(False))


# the four curated reconcile indexes (pipeline.reconcile's ``indexes``)
INDEX_SCHEMAS = {
    "name_index": "source string, name_clean string, target_identifier string, rectype string",
    "uri_index": "source string, ext_uri string, target_identifier string, rectype string",
    "same_as": "uri_a string, uri_b string",
    "different_from": "uri_a string, uri_b string",
}


def empty_indexes(spark: SparkSession) -> dict[str, DataFrame]:
    """Every reconcile index absent: four provably-empty relations, so
    reconcile elides the joins against them."""
    return {key: empty_relation(spark, schema) for key, schema in INDEX_SCHEMAS.items()}
