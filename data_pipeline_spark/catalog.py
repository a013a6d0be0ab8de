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

# load_table's plan cache is shared by every query in the session; a
# multi-threaded serving caller (the DSL CLI under a thread pool) must not
# race the evict-then-insert sequence. Plan construction itself stays
# outside the lock — it is the slow part, DataFrames are immutable, and a
# double build on a concurrent miss is benign (last insert wins).
_CACHE_LOCK = threading.Lock()


def input_fingerprint(sf_dir: str, name: str) -> str:
    """Cheap identity of a table's files: (name, size, mtime_ns) of every
    file under <sf_dir>/<name>.parquet.  Microseconds on a local listing —
    vs the ~100ms spark.read.parquet round trip the plan cache avoids —
    and regenerating a table in place changes it, so the cache can never
    serve a plan whose pinned file listing has been deleted."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    parts: list[str] = []
    # a file deleted between listdir and stat (concurrent testdata regen)
    # just drops out of the fingerprint — the next call sees the new
    # listing and the changed fingerprint misses the cache, which is the
    # behavior we want; it must not raise out of load_table
    if os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            try:
                st = os.stat(os.path.join(path, entry))
            except FileNotFoundError:
                continue
            parts.append(f"{entry}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        try:
            st = os.stat(path)
            parts.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
        except FileNotFoundError:
            pass
    return ";".join(parts)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One lazy scan plan per (session, sf_dir, table, input fingerprint),
    cached on the session object.  ``spark.read.parquet`` costs a ~100ms
    schema-infer + file-listing driver round trip PER CALL (measured,
    SCALE.md round 11) — a 6-table query paid ~0.6s of pure plan-build
    before executing anything, which was the whole "small-query drift" of
    VERDICT r10.  DataFrames are immutable lazy plans, so reuse is free;
    the fingerprint in the key means an in-place testdata regeneration
    invalidates the entry (same contract as the dedup tier cache) instead
    of serving a plan over deleted part files."""
    with _CACHE_LOCK:
        cache = getattr(spark, "_dps_table_cache", None)
        if cache is None:
            cache = {}
            spark._dps_table_cache = cache
        key = (os.path.abspath(sf_dir), name, input_fingerprint(sf_dir, name))
        cached = cache.get(key)
        if cached is not None:
            return cached
        # evict superseded plans of the same table (regen under the same path)
        for stale in [k for k in cache if k[:2] == key[:2]]:
            del cache[stale]
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects. Read nanos as int64 and truncate to microseconds
        # (integer div — doubles can't hold epoch-nanos exactly), matching
        # DuckDB's own nanos->micros truncation.
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        df = spark.read.parquet(path)
    with _CACHE_LOCK:
        cache[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every benchmark table as a DataFrame keyed by name."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


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
