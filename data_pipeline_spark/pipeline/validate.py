"""Record validation stage (SURVEY §1.4): schema enforcement + rule checks
emitting an ``errors ARRAY<STRING>`` column.

The reference validates each record against per-class Linked Art 1.0 JSON
Schemas (Draft 2020-12) at acquire time and warns-but-continues
(process/validator.py:10-80, process/base/acquirer.py:58-86 in
/root/reference). Spark restatement: `from_json` already enforces the
structural field types (mistyped fields parse to NULL); this module adds

- the semantic rules (parseability, id, class membership, name/equivalent
  shape) as column expressions, and
- the LOAD-BEARING SUBSET of the per-class schemas as config-driven
  structural rules (``CLASS_SCHEMA`` / ``SCHEMA_RULES``): the schema
  aliasing table (validator.py:22-52 — Period/Activity validate as event,
  Material/Currency/Language/MeasurementUnit as concept), per-schema
  required properties, and the additionalProperties check with the
  reference's underscore exemption (validator.py:14-17,79-84 —
  `_`-prefixed local extension properties always pass).

No jsonschema library, no Python loop: every check is a column
expression, errors ride alongside the record so downstream stages can
filter or route to a quarantine sink without losing data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .envelope import with_doc

# class -> schema name (the reference's schema_map, validator.py:22-52)
CLASS_SCHEMA = {
    "DigitalObject": "digital",
    "Group": "group",
    "VisualItem": "image",
    "HumanMadeObject": "object",
    "Person": "person",
    "Place": "place",
    "Set": "set",
    "LinguisticObject": "text",
    "Type": "concept",
    "Event": "event",
    "Period": "event",
    "Activity": "event",
    "Material": "concept",
    "Currency": "concept",
    "Language": "concept",
    "MeasurementUnit": "concept",
}

OK_RECORD_TYPES = tuple(CLASS_SCHEMA)

# properties every class schema allows (Linked Art core.json)
CORE_PROPERTIES = (
    "@context", "id", "type", "_label", "identified_by", "classified_as",
    "referred_to_by", "equivalent", "representation", "member_of",
    "subject_of", "attributed_by", "dimension", "part_of",
)

# per-schema structural rules: required top-level properties beyond
# id/type (checked separately) and the class-specific allowed properties
# on top of CORE_PROPERTIES.  Config-driven — callers can pass an
# extended/replacement dict to validate_records.
SCHEMA_RULES: dict[str, dict[str, tuple[str, ...]]] = {
    "person": {
        "required": ("_label",),
        "allowed": ("born", "died", "carried_out", "residence", "contact_point"),
    },
    "group": {
        "required": ("_label",),
        "allowed": ("formed_by", "dissolved_by", "carried_out", "residence"),
    },
    "object": {
        "required": ("_label",),
        "allowed": (
            "produced_by", "destroyed_by", "encountered_by", "made_of",
            "current_owner", "current_location", "current_keeper", "shows",
            "carries", "used_for", "number_of_parts",
        ),
    },
    "place": {
        "required": ("_label",),
        "allowed": ("defined_by", "approximated_by"),
    },
    "digital": {
        "required": ("_label",),
        "allowed": (
            "format", "access_point", "conforms_to", "digitally_carries",
            "digitally_shows", "used_for", "created_by",
        ),
    },
    "image": {
        "required": ("_label",),
        "allowed": ("about", "represents", "digitally_shown_by", "shown_by",
                    "created_by"),
    },
    "set": {
        "required": ("_label",),
        "allowed": ("about", "created_by", "members_exemplified_by", "used_for"),
    },
    "text": {
        "required": ("_label",),
        "allowed": ("about", "language", "content", "created_by",
                    "carried_by", "digitally_carried_by", "used_for"),
    },
    "concept": {
        "required": ("_label",),
        "allowed": ("broader", "created_by"),
    },
    "event": {
        "required": ("_label",),
        "allowed": (
            "timespan", "took_place_at", "carried_out_by", "caused_by",
            "used_specific_object", "influenced_by", "part",
        ),
    },
}


def _rule(cond: Column, message) -> Column:
    return F.when(cond, message if isinstance(message, Column) else F.lit(message))


def _schema_col() -> Column:
    expr = F.lit(None).cast("string")
    for cls, schema in CLASS_SCHEMA.items():
        expr = F.when(F.col("doc.type") == cls, F.lit(schema)).otherwise(expr)
    return expr


def validate_records(
    records: DataFrame,
    schema_rules: dict[str, dict[str, tuple[str, ...]]] | None = None,
) -> DataFrame:
    """Attach ``errors: array<string>`` (empty = valid).

    Semantic rules (the checks the reference's acquirer gates on):
    parseable document, id present, known class, type agrees with the
    envelope's rectype, names have content, equivalents carry ids.

    Structural rules (per-class, config-driven via ``schema_rules``,
    default SCHEMA_RULES): required top-level properties per schema and
    the additionalProperties check with the underscore exemption.  Both
    probe the raw JSON string, so they need the ``data`` column — records
    handed over as pre-parsed docs only get the semantic rules."""
    rules = SCHEMA_RULES if schema_rules is None else schema_rules
    docs = with_doc(records)
    has_data = "data" in docs.columns
    # from_json is PERMISSIVE: malformed input yields an all-null struct,
    # NOT a null doc — so "unparseable" must probe the raw string with
    # try_parse_json (null doc still counts: null/absent data).
    unparseable = F.col("doc").isNull()
    if has_data:
        unparseable = unparseable | (
            F.col("data").isNotNull() & F.try_parse_json(F.col("data")).isNull()
        )
    checks = [
        _rule(unparseable, "unparseable document"),
        _rule(~unparseable & F.col("doc").isNotNull() & F.col("doc.id").isNull(), "missing id"),
        _rule(
            F.col("doc.type").isNotNull() & ~F.col("doc.type").isin(*OK_RECORD_TYPES),
            "unknown record type",
        ),
        _rule(
            F.col("doc.type").isNotNull()
            & F.col("rectype").isNotNull()
            & (F.col("doc.type") != F.col("rectype")),
            "type/rectype mismatch",
        ),
        _rule(
            F.exists(
                F.coalesce(F.col("doc.identified_by"), F.array()),
                lambda n: (n.type == "Name") & n.content.isNull(),
            ),
            "name without content",
        ),
        _rule(
            F.exists(
                F.coalesce(F.col("doc.equivalent"), F.array()),
                lambda e: e.id.isNull(),
            ),
            "equivalent without id",
        ),
    ]
    if has_data:
        schema = _schema_col()
        keys = F.json_object_keys(F.col("data"))
        data_ok = F.col("data").isNotNull() & ~unparseable
        # required properties per schema (beyond id, checked above) —
        # PRESENCE semantics via the key list, like JSON Schema
        # `required`: a present-but-null property passes here (its type
        # is the type checks' business), where get_json_object would
        # conflate null-valued with absent
        for name, rule in sorted(rules.items()):
            for prop in rule.get("required", ()):
                checks.append(
                    _rule(
                        (schema == name)
                        & data_ok
                        & ~F.array_contains(F.coalesce(keys, F.array()), prop),
                        f"missing required property: {prop}",
                    )
                )
        # additionalProperties with the underscore exemption: top-level
        # keys outside (core + per-class allowed), `_`-prefixed keys pass
        allowed = F.lit(None).cast("array<string>")
        for name, rule in sorted(rules.items()):
            props = sorted(set(CORE_PROPERTIES) | set(rule.get("allowed", ())))
            allowed = F.when(
                schema == name, F.array(*[F.lit(p) for p in props])
            ).otherwise(allowed)
        unexpected = F.array_sort(
            F.filter(
                F.coalesce(keys, F.array()),
                lambda k2: ~k2.startswith("_") & ~F.array_contains(allowed, k2),
            )
        )
        checks.append(
            _rule(
                schema.isNotNull()
                & data_ok
                & (F.size(unexpected) > 0),
                F.concat(
                    F.lit("unexpected properties: "), F.array_join(unexpected, ", ")
                ),
            )
        )
    errors = F.filter(F.array(*checks), lambda x: x.isNotNull())
    return docs.withColumn("errors", errors)


def split_valid(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine): route failed records to a side output instead
    of dropping them (the warn-and-continue contract)."""
    validated = records if "errors" in records.columns else validate_records(records)
    return (
        validated.filter(F.size("errors") == 0),
        validated.filter(F.size("errors") > 0),
    )
