"""LC authority-file source (U1 breadth proof #3): the LCNAF/LCSH mapper.

Restates sources/authorities/lc/mapper.py in /root/reference as DataFrame
expressions — the reference's second-largest mapper (1024 LoC).  Shapes
kept:

- **@graph reconstitution** (mapper.py:346-366): records arrive as a
  JSON-LD node list; the top node is looked up by ``namespace+identifier``
  and referenced nodes are inlined.  Spark form: last-wins filtered array
  lookups (duplicate node ids tolerated, like the reference's dict build)
  — the cycle-guarded recursion becomes bounded hops (one RWO hop is all
  LC data uses).  The
  no-rules JSON-LD compaction coercions (str|dict|list at mapper.py:
  177-246) are normalized at parse time by the dump schema.
- **Type vetoes** (mapper.py:111-148): DeprecatedAuthority/NameTitle
  records are trashed; ``madsrdf:Title`` is trashed unless explicitly
  requested as LinguisticObject.
- **guess_type** (F23, mapper.py:150-175): first @type present in the
  type map wins, falling back to the identifiesRWO node's types, default
  ``Type``.
- **fix_identifier** (F12, mapper.py:92-97): the @@LMI-SPECIAL-TERM@@
  sentinel is dropped, ``-781`` geographic-subdivision suffixes strip.
- **Labels** (mapper.py:187-246): authoritativeLabel -> _label + one
  PrimaryName per label with its language mapped through the F15 table;
  hasVariant/variantLabel -> AlternateNames; notes -> referred_to_by.
- **fix_links** (mapper.py:99-109): bnf.fr equivalents are stripped
  ("frequently trash").
- **Source routing** (mapper.py:64-86): Place/Group/Person/Activity
  records belong to lcnaf, concept-family records to lcsh — the same
  split build_recs_and_reconcile uses to pick a reconciler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import normalize_lang
from .loaders import IDENTIFIER_SNIFF, envelope, load_jsonl_dump, name_node, type_ref

# Normalized JSON-LD node shape (the dump loader's parse schema applies
# the compaction coercions the reference does in Python per record).
RAW_SCHEMA = (
    "identifier string, record_time string,"
    " graph array<struct<"
    "   id string, types array<string>,"
    "   auth_labels array<struct<value string, lang string>>,"
    "   variants array<struct<value string, lang string>>,"
    "   notes array<string>,"
    "   rwo_ref string,"
    "   exact_external array<string>>>"
)

NAF_NS = "http://id.loc.gov/authorities/names/"
SH_NS = "http://id.loc.gov/authorities/subjects/"

# mapper.py:17-33 — @type -> record class, incl. the full-URI spellings
# (bibframe/foaf) some records carry instead of the compact prefixes.
TYPE_MAP = [
    ("madsrdf:Geographic", "Place"),
    ("madsrdf:Language", "Language"),
    ("madsrdf:ConferenceName", "Activity"),
    ("madsrdf:FamilyName", "Group"),
    ("madsrdf:CorporateName", "Group"),
    ("madsrdf:PersonalName", "Person"),
    ("madsrdf:Temporal", "Period"),
    ("madsrdf:Organization", "Group"),
    ("foaf:Person", "Person"),
    ("http://id.loc.gov/ontologies/bibframe/Person", "Person"),
    ("http://xmlns.com/foaf/0.1/Person", "Person"),
    ("http://xmlns.com/foaf/0.1/Organization", "Group"),
    ("http://id.loc.gov/ontologies/bibframe/Organization", "Group"),
    ("madsrdf:Title", "LinguisticObject"),
]
IGNORE_TYPES = ["madsrdf:DeprecatedAuthority", "madsrdf:NameTitle"]
NAF_CLASSES = ["Place", "Group", "Person", "Activity"]


def load(spark: SparkSession, cfg: dict) -> DataFrame:
    return load_jsonl_dump(
        spark, cfg["dump_path"], schema=RAW_SCHEMA, sniff_regex=IDENTIFIER_SNIFF
    )


def fix_identifier(ident: F.Column) -> F.Column:
    """F12 (mapper.py:92-97): sentinel -> null, strip -781 suffix."""
    return F.when(ident == "@@LMI-SPECIAL-TERM@@", F.lit(None)).otherwise(
        F.regexp_replace(ident, r"-781$", "")
    )


def _first_mapped(types: F.Column) -> F.Column:
    """First @type present in TYPE_MAP in RECORD order — the reference's
    `for t in new["@type"]` loop breaks on the record's first mapped type,
    which differs from map-declaration order when a record carries two
    mapped types (e.g. [PersonalName, Geographic] must elect Person)."""
    keys = [t for t, _ in TYPE_MAP]
    winner = F.try_element_at(
        F.filter(F.coalesce(types, F.array()), lambda t: t.isin(*keys)),
        F.lit(1),
    )
    cls_map = F.create_map(*[F.lit(x) for pair in TYPE_MAP for x in pair])
    return F.when(winner.isNotNull(), F.try_element_at(cls_map, winner))


def guess_type(top: F.Column, rwo: F.Column) -> F.Column:
    """F23 (mapper.py:150-175): top node types, else RWO node types,
    else Type."""
    return F.coalesce(
        _first_mapped(top.getField("types")),
        _first_mapped(rwo.getField("types")),
        F.lit("Type"),
    )


def _label_name(entry: F.Column, cls: str) -> F.Column:
    """A {value, lang} label entry -> Name, language through F15."""
    lang = entry.getField("lang")
    return name_node(
        entry.getField("value"), cls, F.when(lang.isNotNull(), normalize_lang(lang))
    )


def map_records(loaded: DataFrame, source_name: str = "lc") -> DataFrame:
    """Raw JSON-LD graph rows -> record envelopes (one projection; the
    graph walk is two map lookups)."""
    doc = F.col("doc")
    ident = fix_identifier(doc.getField("identifier"))

    def node(key: F.Column) -> F.Column:
        """Last @graph entry with this id — JSON-LD may repeat a node id
        across entries; the reference's ``nodes[n["@id"]] = n`` loop keeps
        the last one, and a filter+element_at(-1) does the same without
        map_from_entries' DUPLICATED_MAP_KEY failure mode."""
        return F.try_element_at(
            F.filter(doc.getField("graph"), lambda n: n.getField("id") == key), F.lit(-1)
        )

    # top-node election: try the lcnaf namespace first, then lcsh — the
    # reference knows which namespace it is configured for; a generic dump
    # carries either.
    top = F.coalesce(
        node(F.concat(F.lit(NAF_NS), F.col("ident"))),
        node(F.concat(F.lit(SH_NS), F.col("ident"))),
    )

    df = (
        loaded.withColumn("ident", ident)
        .filter(F.col("ident").isNotNull())
        .withColumn("top", top)
        .filter(F.col("top").isNotNull())
        # reconstitution hop: inline the identifiesRWO node if referenced
        .withColumn("rwo", node(F.col("top").getField("rwo_ref")))
        # mapper.py:139-146 type vetoes
        .filter(
            ~F.arrays_overlap(
                F.coalesce(F.col("top").getField("types"), F.array()),
                F.array(*[F.lit(t) for t in IGNORE_TYPES]),
            )
        )
        .withColumn("rectype", guess_type(F.col("top"), F.col("rwo")))
        .filter(F.col("rectype") != "LinguisticObject")
    )

    t = F.col("top")
    prefs = F.coalesce(t.getField("auth_labels"), F.array())
    names = F.concat(
        F.transform(prefs, lambda p: _label_name(p, "primaryName")),
        F.transform(
            F.coalesce(t.getField("variants"), F.array()),
            lambda v: _label_name(v, "alternateName"),
        ),
    )
    statements = F.transform(
        F.coalesce(t.getField("notes"), F.array()),
        lambda n: F.struct(
            F.lit("LinguisticObject").alias("type"),
            n.alias("content"),
            F.array(type_ref("note")).alias("classified_as"),
        ),
    )
    # fix_links (mapper.py:99-109): strip bnf.fr equivalents
    equivalents = F.filter(
        F.coalesce(t.getField("exact_external"), F.array()),
        lambda e: ~e.contains("bnf.fr"),
    )
    lc_source = F.when(
        F.col("rectype").isin(*NAF_CLASSES), F.lit("lcnaf")
    ).otherwise(F.lit("lcsh"))

    body = F.to_json(
        F.struct(
            t.getField("id").alias("id"),
            F.col("rectype").alias("type"),
            F.element_at(prefs, 1).getField("value").alias("_label"),
            names.alias("identified_by"),
            statements.alias("referred_to_by"),
            F.transform(
                equivalents,
                lambda e: F.struct(e.alias("id"), F.col("rectype").alias("type")),
            ).alias("equivalent"),
        )
    )
    return envelope(
        df, lc_source, "ident", "rectype", doc.getField("record_time"), body
    )


CONFIG = {
    "name": "lc",
    "loader": f"{__name__}:load",
    "mapper": f"{__name__}:map_records",
    "merge_order": 5,
}
