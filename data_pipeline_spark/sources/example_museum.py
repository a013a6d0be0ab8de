"""A complete example source wired through the registry (U1/U2/F23).

Shows the per-source extension contract end-to-end: a loader producing raw
rows from a simple museum-ish JSONL shape, a mapper transforming them into
record envelopes (with `guess_type` — the F23 heuristic every reference
source implements, e.g. wikidata/mapper.py:121-296), and the registry
config that wires both. A new source = one module like this + one config
dict; every component is a pure DataFrame transform.

The module holds only the source's own rules (raw schema, type guess,
field mapping).  Everything shared comes from ``loaders``: the mapper
builds its document with ``name_node`` and hands ``envelope`` the five
envelope columns — ``envelope(df, source, identifier, rectype,
record_time, data)`` adds ``change="create"`` and turns a null or empty
record time into ``DEFAULT_RECORD_TIME``.  A source whose records need
Python per row passes ``map_rows`` one ``row_fn(identifier,
record_time, value) -> (identifier, record_time, doc) | None`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RAW_SCHEMA = (
    "id string, kind string, title string, maker string, place string,"
    " made_date string"
)


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    """Loader: dump path comes from the source config."""
    from .loaders import load_jsonl_dump

    return load_jsonl_dump(spark, cfg["dump_path"], schema=RAW_SCHEMA)


def guess_type(kind_col: F.Column) -> F.Column:
    """F23: per-source record-type heuristic (when-chain, no UDF)."""
    k = F.lower(F.coalesce(kind_col, F.lit("")))
    return (
        F.when(k.isin("painting", "sculpture", "object"), "HumanMadeObject")
        .when(k.isin("artist", "person"), "Person")
        .when(k.isin("place", "city"), "Place")
        .when(k.isin("concept", "material"), "Type")
        .otherwise("HumanMadeObject")
    )


def map_records(loaded: DataFrame, source_name: str = "museum") -> DataFrame:
    """Mapper: raw rows -> record envelopes (source, identifier, rectype,
    record_time, change, data). The document is assembled JVM-side with
    to_json(struct(...)) — a 100TB map stage with no Python."""
    from .loaders import DEFAULT_RECORD_TIME, envelope, name_node

    doc = F.to_json(
        F.struct(
            F.concat(F.lit("https://fixture.test/"), F.lit(source_name), F.lit("/"), F.col("doc.id")).alias("id"),
            guess_type(F.col("doc.kind")).alias("type"),
            F.col("doc.title").alias("_label"),
            F.array(name_node(F.col("doc.title"), None)).alias("identified_by"),
        )
    )
    return envelope(
        loaded, source_name, "doc.id", guess_type(F.col("doc.kind")),
        F.lit(DEFAULT_RECORD_TIME), doc,
    )


CONFIG = {
    "name": "museum",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 10,
}
