"""Dump loaders (S5/S6/S7): JSONL ingestion with pre-parse skip.

Reference behavior (process/base/loader.py:29-86 in /root/reference): stream
a gzipped JSONL dump, sniff the identifier from the RAW line before JSON
parsing, skip already-loaded records, then parse+upsert. The wikidata
variant (sources/general/wikidata/loader.py:39-103) adds slice parallelism
and a cheap property-line prefilter.

Spark restatement: ``spark.read.text`` keeps lines unparsed; the identifier
sniff is a pushed-down ``regexp_extract`` and the skip is a left-anti join
against existing keys — so fully-loaded files cost one column scan, never a
JSON parse. Only surviving lines hit ``from_json``. Slice parallelism is
native partitioning (S9); gzip is splittable per-file, so dumps should be
multi-file at scale (the reference's 24-way slices map to file splits).

The module is also every source's shared mapping skeleton (the reference's
process/base/mapper.py base class): the record ``envelope`` with its one
record-time rule, the Python row pass ``map_rows`` with ``loads_object``,
the Linked Art ``name_node``/``type_ref`` Column constructors and their
``name_dict``/``as_list`` Python twins, and the ``{identifier,
record_time, doc}`` dump shape (``IDENTIFIER_SNIFF``, ``load_doc_lines``).
A source module keeps only its own rules: type guessing, identifier
fixes, the field mapping and its raw schema.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the identifier sniff: first "id" (or configured key) field in the raw line
_DEFAULT_SNIFF = r'"id"\s*:\s*"([^"]+)"'
# ... and the sniff for the {identifier, record_time, doc} dump shape
IDENTIFIER_SNIFF = r'"identifier"\s*:\s*"([^"]+)"'

# the record time of a record whose source gives none (null or empty)
DEFAULT_RECORD_TIME = "2026-01-01T00:00:00"

VOCAB = "http://vocab.example/"
NAME_T = (
    "struct<type: string, content: string, language: string,"
    " classified_as: array<struct<id: string, type: string>>>"
)


def sniff_new_records(
    lines: DataFrame,
    existing_keys: DataFrame | None,
    sniff_regex: str = _DEFAULT_SNIFF,
    prefilter: str | None = None,
) -> DataFrame:
    """lines(value) -> (identifier, value) for lines NOT already loaded.

    ``prefilter`` is a cheap raw-line regex dropped before anything else
    (the wikidata property-line filter P1); ``existing_keys(identifier)``
    is anti-joined — at scale that's a shuffle of keys only, the raw lines
    never move twice."""
    out = lines
    if prefilter:
        out = out.filter(~F.col("value").rlike(prefilter))
    out = out.select(
        F.regexp_extract("value", sniff_regex, 1).alias("identifier"), "value"
    ).filter(F.col("identifier") != "")
    if existing_keys is not None:
        out = out.join(existing_keys.select("identifier"), "identifier", "left_anti")
    return out


def load_jsonl_dump(
    spark: SparkSession,
    path: str,
    schema,
    existing_keys: DataFrame | None = None,
    sniff_regex: str = _DEFAULT_SNIFF,
    prefilter: str | None = None,
) -> DataFrame:
    """S5: gzipped/plain JSONL dump -> parsed records, skipping loaded ids.

    Returns (identifier, doc STRUCT, value raw-line). Corrupt lines
    surface as doc=NULL rows (PERMISSIVE) rather than failing the load,
    matching the reference's warn-and-continue (loader.py:63-66)."""
    lines = spark.read.text(path)
    fresh = sniff_new_records(lines, existing_keys, sniff_regex, prefilter)
    return fresh.withColumn("doc", F.from_json("value", schema))


def load_doc_lines(spark: SparkSession, path: str, doc_path: str) -> DataFrame:
    """{identifier, record_time, doc} JSONL dump -> (identifier,
    record_time, value) rows; ``value`` is the raw JSON text at
    ``doc_path``, left unparsed for the Python row pass."""
    raw = spark.read.text(path)
    parsed = F.from_json("value", "struct<identifier: string, record_time: string>")
    return raw.select(
        parsed.getField("identifier").alias("identifier"),
        parsed.getField("record_time").alias("record_time"),
        F.get_json_object("value", doc_path).alias("value"),
    ).filter(F.col("identifier").isNotNull() & F.col("value").isNotNull())


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def envelope(df: DataFrame, source, identifier, rectype, record_time, data) -> DataFrame:
    """The record envelope every mapper emits: (source, identifier,
    rectype, record_time, change="create", data).  ``source`` is the
    source name or a Column; the other four are Columns or column names.
    The one record-time rule: null or empty becomes DEFAULT_RECORD_TIME."""
    return df.select(
        (F.lit(source) if isinstance(source, str) else source).alias("source"),
        _col(identifier).alias("identifier"),
        _col(rectype).alias("rectype"),
        F.coalesce(F.nullif(_col(record_time), F.lit("")), F.lit(DEFAULT_RECORD_TIME))
        .alias("record_time"),
        F.lit("create").alias("change"),
        _col(data).alias("data"),
    )


def loads_object(value) -> dict | None:
    """A JSON object from raw text; None for a null, malformed or
    non-object value (the row is skipped, never the job failed)."""
    try:
        doc = json.loads(value)
    except (ValueError, TypeError):
        return None
    return doc if isinstance(doc, dict) else None


def map_rows(loaded: DataFrame, source: str, row_fn) -> DataFrame:
    """(identifier?, record_time?, value) rows -> envelopes through one
    Python function per row, Arrow-batched.  ``row_fn(identifier,
    record_time, value)`` returns ``(identifier, record_time, doc)`` or
    None to skip the row; the doc's ``type`` is the rectype and its
    sort_keys JSON the data.  Missing identifier/record_time columns
    arrive as None."""
    import pandas as pd

    for c in ("identifier", "record_time"):
        if c not in loaded.columns:
            loaded = loaded.withColumn(c, F.lit(None).cast("string"))

    def run(batches):
        for pdf in batches:
            out = {"identifier": [], "rectype": [], "record_time": [], "data": []}
            for row in zip(pdf["identifier"], pdf["record_time"], pdf["value"]):
                got = row_fn(*row)
                if got is None:
                    continue
                ident, rt, doc = got
                out["identifier"].append(ident)
                out["rectype"].append(doc["type"])
                out["record_time"].append(rt)
                out["data"].append(json.dumps(doc, sort_keys=True))
            yield pd.DataFrame(out)

    mapped = loaded.select("identifier", "record_time", "value").mapInPandas(
        run, schema="identifier string, rectype string, record_time string, data string"
    )
    return envelope(mapped, source, "identifier", "rectype", "record_time", "data")


def type_ref(cls: str) -> Column:
    """The vocabulary classification ref {id, type: "Type"}."""
    return F.struct(F.lit(VOCAB + cls).alias("id"), F.lit("Type").alias("type"))


def name_node(content: Column, cls: str | None, language: Column | None = None) -> Column:
    """A Linked Art Name struct: ``cls`` None leaves it unclassified,
    ``language`` None untagged; to_json drops the null fields, so every
    variant serializes in one field order.  ``language`` may be any
    Column; the struct is NAME_T when it is a string."""
    return F.struct(
        F.lit("Name").alias("type"),
        content.alias("content"),
        (F.lit(None).cast("string") if language is None else language).alias("language"),
        (
            F.lit(None).cast("array<struct<id: string, type: string>>")
            if cls is None
            else F.array(type_ref(cls))
        ).alias("classified_as"),
    )


def name_dict(content, cls: str | None, lang: str | None = None) -> dict:
    """name_node's Python twin: a Name dict, classified and tagged only
    when ``cls`` / ``lang`` are given."""
    n = {"type": "Name", "content": content}
    if cls:
        n["classified_as"] = [{"id": VOCAB + cls, "type": "Type"}]
    if lang:
        n["language"] = lang
    return n


def as_list(v) -> list:
    """JSON-LD scalar-or-list -> list; null/empty values -> []."""
    if v is None or v == "" or v == {} or v == []:
        return []
    return v if isinstance(v, list) else [v]
