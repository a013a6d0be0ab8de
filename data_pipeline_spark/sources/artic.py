"""Museum API source (U1 breadth proof #2): the artic-shaped mapper.

Restates sources/museums/artic/mapper.py:1-170 in /root/reference as
DataFrame expressions: ``guess_type`` from the API model + is_artist flag
(mapper.py:13-25), per-class URI prefixes (do_setup, mapper.py:27-44),
title/alt_titles -> primary/alternate Names and description ->
referred_to_by statements (handle_common, mapper.py:59-74), and
birth/death dates -> born/died timespans through the F1 date parser
(handle_timespan, mapper.py:76-120).

Wired through the registry like every source (U2): CONFIG below, no
engine code.  The map stage is one projection; the only Python is the
F1 free-text tail inside make_datetime's Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .loaders import envelope, load_jsonl_dump, name_node, type_ref

RAW_SCHEMA = (
    "id bigint, api_model string, is_artist boolean, title string,"
    " alt_titles array<string>, description string, short_description string,"
    " birth_date string, death_date string, timestamp string"
)

_API_BASE = "https://api.artic.edu/api/v1"


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=r'"id"\s*:\s*(\d+)'
    )


def guess_type(doc: F.Column) -> F.Column:
    """F23 (mapper.py:13-25): api_model decides; agents split on is_artist
    (some groups are flagged is_artist upstream — the reference accepts
    that noise and so do we)."""
    api = F.coalesce(doc.getField("api_model"), F.lit(""))
    return (
        F.when(api == "artworks", "HumanMadeObject")
        .when(api == "exhibitions", "Activity")
        .when((api == "agents") & F.coalesce(doc.getField("is_artist"), F.lit(False)), "Person")
        .otherwise("Group")
    )


def _uri(rectype: F.Column, ident: F.Column) -> F.Column:
    """Per-class URI prefix (do_setup, mapper.py:36-43)."""
    path = (
        F.when(rectype.isin("Person", "Group"), "agents")
        .when(rectype == "Activity", "exhibitions")
        .otherwise("artworks")
    )
    return F.concat(F.lit(_API_BASE + "/"), path, F.lit("/"), ident.cast("string"))


def _statement(content: F.Column) -> F.Column:
    return F.struct(
        F.lit("LinguisticObject").alias("type"),
        content.alias("content"),
        F.array(type_ref("description")).alias("classified_as"),
    )


def _event(kind: str, ts: F.Column) -> F.Column:
    """Birth/Death event struct from a parsed F1 timespan."""
    return F.when(
        ts.getField("begin_iso").isNotNull(),
        F.struct(
            F.lit(kind).alias("type"),
            F.struct(
                ts.getField("begin_iso").alias("begin_of_the_begin"),
                ts.getField("end_iso").alias("end_of_the_end"),
            ).alias("timespan"),
        ),
    )


def map_records(loaded: DataFrame, source_name: str = "artic") -> DataFrame:
    """Raw API rows -> record envelopes."""
    from ..functions.dates import make_datetime

    doc = F.col("doc")
    rectype = guess_type(doc)
    df = (
        loaded.withColumn("rectype", rectype)
        .withColumn("born_ts", make_datetime(doc.getField("birth_date")))
        .withColumn("died_ts", make_datetime(doc.getField("death_date")))
    )

    primary = F.when(
        doc.getField("title").isNotNull(), name_node(doc.getField("title"), "primaryName")
    )
    alts = F.transform(
        F.coalesce(doc.getField("alt_titles"), F.array()),
        lambda t: name_node(t, "alternateName"),
    )
    names = F.filter(
        F.concat(F.array(primary), alts), lambda n: n.isNotNull() & n.getField("content").isNotNull()
    )
    statements = F.filter(
        F.array(
            F.when(doc.getField("description").isNotNull(), _statement(doc.getField("description"))),
            F.when(
                doc.getField("short_description").isNotNull(),
                _statement(doc.getField("short_description")),
            ),
        ),
        lambda s: s.isNotNull(),
    )

    body = F.to_json(
        F.struct(
            _uri(F.col("rectype"), doc.getField("id")).alias("id"),
            F.col("rectype").alias("type"),
            doc.getField("title").alias("_label"),
            names.alias("identified_by"),
            statements.alias("referred_to_by"),
            _event("Birth", F.col("born_ts")).alias("born"),
            _event("Death", F.col("died_ts")).alias("died"),
        )
    )
    return envelope(
        df, source_name, doc.getField("id").cast("string"), "rectype",
        doc.getField("timestamp"), body,
    )


CONFIG = {
    "name": "artic",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 15,
}
