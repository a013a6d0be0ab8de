"""Record-envelope model: JSON documents -> typed nested columns.

The reference's universal unit is ``{"data": <JSON-LD doc>, "identifier",
"source"}`` stored as jsonb (postgres.py:145-152 in /root/reference). Here
the doc is parsed ONCE into a typed ``StructType`` covering the hot fields
(names, equivalents, classifications, timespans, part/broader/member links,
dimensions) while the raw JSON string rides along for full fidelity — the
two-representation scheme of SURVEY §1.5. All downstream extraction is
higher-order-function work on the typed column (explode/transform/filter),
never per-row JSON re-parsing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)


def _ref():  # {"id": ..., "type": ...} stub
    return StructType(
        [StructField("id", StringType()), StructField("type", StringType())]
    )


def _timespan():
    return StructType(
        [
            StructField("begin_of_the_begin", StringType()),
            StructField("end_of_the_begin", StringType()),
            StructField("begin_of_the_end", StringType()),
            StructField("end_of_the_end", StringType()),
        ]
    )


def _event():
    return StructType(
        [
            StructField("type", StringType()),
            StructField("timespan", _timespan()),
            StructField("carried_out_by", ArrayType(_ref())),
            StructField("took_place_at", ArrayType(_ref())),
        ]
    )


NAME_STRUCT = StructType(
    [
        StructField("type", StringType()),
        StructField("content", StringType()),
        StructField("language", ArrayType(_ref())),
        StructField("classified_as", ArrayType(_ref())),
        StructField(
            "part",
            ArrayType(
                StructType(
                    [
                        StructField("classified_as", ArrayType(_ref())),
                        StructField("content", StringType()),
                    ]
                )
            ),
        ),
    ]
)

STATEMENT_STRUCT = StructType(
    [
        StructField("type", StringType()),
        StructField("content", StringType()),
        StructField("classified_as", ArrayType(_ref())),
    ]
)

DIMENSION_STRUCT = StructType(
    [
        StructField("value", DoubleType()),
        StructField("unit", _ref()),
        StructField("classified_as", ArrayType(_ref())),
    ]
)

DOC_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("type", StringType()),
        StructField("_label", StringType()),
        StructField("identified_by", ArrayType(NAME_STRUCT)),
        StructField("equivalent", ArrayType(_ref())),
        StructField("classified_as", ArrayType(_ref())),
        StructField("referred_to_by", ArrayType(STATEMENT_STRUCT)),
        StructField("born", _event()),
        StructField("died", _event()),
        StructField("part_of", ArrayType(_ref())),
        StructField("broader", ArrayType(_ref())),
        StructField("member_of", ArrayType(_ref())),
        StructField("dimension", ArrayType(DIMENSION_STRUCT)),
        StructField("defined_by", StringType()),
        StructField("produced_by", _event()),
    ]
)


def with_doc(records: DataFrame) -> DataFrame:
    """Attach the typed `doc` column (one from_json per record, reused by
    every downstream extraction)."""
    return records.withColumn("doc", F.from_json(F.col("data"), DOC_SCHEMA))


def record_uri(records: DataFrame) -> F.Column:
    """The record's canonical URI: the doc id (falls back to source/identifier)."""
    return F.coalesce(F.col("doc.id"), F.concat_ws("/", F.col("source"), F.col("identifier")))


def extract_names(records: DataFrame) -> DataFrame:
    """names(uri, source, identifier, rectype, name_clean, priority):
    prioritized clean names (F9, process/base/reconciler.py:61-166) —
    primary names first, then alternates, then the _label fallback."""
    from ..functions.strings import clean_name

    docs = records if "doc" in records.columns else with_doc(records)
    base = docs.select(
        record_uri(docs).alias("uri"),
        "source",
        "identifier",
        "rectype",
        F.col("doc._label").alias("_label"),
        F.col("doc.identified_by").alias("identified_by"),
    )
    named = (
        base.select(
            "uri", "source", "identifier", "rectype",
            F.posexplode_outer("identified_by").alias("pos", "nm"),
            "_label",
        )
        .filter((F.col("nm.type") == "Name") | F.col("nm").isNull())
        .select(
            "uri", "source", "identifier", "rectype",
            F.coalesce(F.col("nm.content"), F.col("_label")).alias("name_raw"),
            F.when(
                F.exists(
                    F.coalesce(F.col("nm.classified_as"), F.array()),
                    lambda c: c.id.endswith("primaryName"),
                ),
                F.lit(0),
            )
            .otherwise(F.coalesce(F.col("pos") + 1, F.lit(9)))
            .alias("priority"),
        )
    )
    return (
        named.filter(F.col("name_raw").isNotNull())
        .select(
            "uri", "source", "identifier", "rectype",
            clean_name(F.col("name_raw")).alias("name_clean"),
            "priority",
        )
        .filter(F.col("name_clean") != "")
        .dropDuplicates(["uri", "name_clean"])
    )


def name_variants(names: DataFrame) -> DataFrame:
    """F9 variant synthesis (process/base/reconciler.py:61-166): widen the
    names relation with derived probe keys —

    - person ``last, first`` inversion: "claude monet" -> "monet, claude"
      and the reverse un-inversion "monet, claude" -> "claude monet";
    - place ``A--B`` -> "a (b)" and "b (a)" forms.

    Variants carry priority+10 so direct names always outrank them in
    candidate election. Input/output schema matches extract_names."""
    base = names.select("uri", "source", "identifier", "rectype", "name_clean", "priority")

    person = base.filter(F.col("rectype") == "Person")
    toks = F.split(F.col("name_clean"), " ")
    inverted = (
        person.filter(~F.col("name_clean").contains(",") & (F.size(toks) >= 2))
        .select(
            "uri", "source", "identifier", "rectype",
            F.concat(
                F.element_at(toks, -1),
                F.lit(", "),
                F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)),
            ).alias("name_clean"),
            (F.col("priority") + 10).alias("priority"),
        )
    )
    parts = F.split(F.col("name_clean"), ", ")
    uninverted = (
        person.filter(F.col("name_clean").contains(", ") & (F.size(parts) == 2))
        .select(
            "uri", "source", "identifier", "rectype",
            F.concat(F.element_at(parts, 2), F.lit(" "), F.element_at(parts, 1)).alias(
                "name_clean"
            ),
            (F.col("priority") + 10).alias("priority"),
        )
    )

    place = base.filter(
        (F.col("rectype") == "Place") & F.col("name_clean").contains("--")
    )
    seg = F.split(F.col("name_clean"), "--")
    place_ab = place.filter(F.size(seg) == 2).select(
        "uri", "source", "identifier", "rectype",
        F.format_string("%s (%s)", F.element_at(seg, 1), F.element_at(seg, 2)).alias(
            "name_clean"
        ),
        (F.col("priority") + 10).alias("priority"),
    )
    place_ba = place.filter(F.size(seg) == 2).select(
        "uri", "source", "identifier", "rectype",
        F.format_string("%s (%s)", F.element_at(seg, 2), F.element_at(seg, 1)).alias(
            "name_clean"
        ),
        (F.col("priority") + 10).alias("priority"),
    )
    return (
        base.unionByName(inverted)
        .unionByName(uninverted)
        .unionByName(place_ab)
        .unionByName(place_ba)
        .dropDuplicates(["uri", "name_clean"])
    )


def extract_equivalents(records: DataFrame) -> DataFrame:
    """equiv_edges(src_uri, dst_uri, rectype, provenance='record'): the
    record's own `equivalent[].id` links (J2 input)."""
    docs = records if "doc" in records.columns else with_doc(records)
    return (
        docs.select(
            record_uri(docs).alias("src_uri"),
            "rectype",
            F.explode(F.coalesce(F.col("doc.equivalent"), F.array())).alias("eq"),
        )
        .select(
            "src_uri",
            F.col("eq.id").alias("dst_uri"),
            "rectype",
            F.lit("record").alias("provenance"),
        )
        .filter(F.col("dst_uri").isNotNull() & (F.col("dst_uri") != F.col("src_uri")))
    )


def extract_timespans(records: DataFrame) -> DataFrame:
    """(uri, born_begin_sec, died_end_sec, lifespan_ok): parsed birth/death
    with the free-text/BCE parser (F1) + the 122y sanity veto (F5,
    mapper_utils.py:146-197)."""
    from ..functions.dates import lifespan_ok, make_datetime

    docs = records if "doc" in records.columns else with_doc(records)
    base = docs.select(
        record_uri(docs).alias("uri"),
        "rectype",
        F.coalesce(
            F.col("doc.born.timespan.begin_of_the_begin"),
            F.col("doc.born.timespan.end_of_the_end"),
        ).alias("born_raw"),
        F.coalesce(
            F.col("doc.died.timespan.end_of_the_end"),
            F.col("doc.died.timespan.begin_of_the_begin"),
        ).alias("died_raw"),
    )
    parsed = base.select(
        "uri",
        "rectype",
        make_datetime(F.col("born_raw")).alias("born_ts"),
        make_datetime(F.col("died_raw")).alias("died_ts"),
    )
    born = F.col("born_ts.begin_sec")
    died = F.col("died_ts.end_sec")
    return parsed.select(
        "uri",
        "rectype",
        born.alias("born_begin_sec"),
        F.col("born_ts.begin_iso").alias("born_begin_iso"),
        died.alias("died_end_sec"),
        F.col("died_ts.end_iso").alias("died_end_iso"),
        lifespan_ok(born, died).alias("lifespan_ok"),
    )
