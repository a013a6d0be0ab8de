"""One source-mapping skeleton: the record envelope, the Python row
pass, the Linked Art Name/type-ref constructors and the dump shape are
each defined once, in data_pipeline_spark/sources/loaders.py, and every
source module calls them — so a second envelope select, row loop,
default record time or Name constructor cannot grow back in a source module
and drift from the others (the way ycba's row loop once failed the job
on a null value that every other loop skipped)."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "data_pipeline_spark"
SOURCES = sorted((PKG / "sources").glob("*.py"))

SKELETON = (
    "envelope",
    "map_rows",
    "loads_object",
    "load_doc_lines",
    "name_node",
    "type_ref",
    "name_dict",
    "as_list",
)

DELETED_DEFS = ("_as_list", "_name", "_envelope_select")

# constructions a per-source copy of the skeleton would repeat; each is
# written once under sources/ (in loaders.py)
CONSTRUCTIONS = {
    "change column": re.compile(r'F\.lit\("create"\)\.alias\("change"\)'),
    "default record time": re.compile(r"2026-01-01T00:00:00"),
    "record-loop accumulator": re.compile(r'"rectype": \[\]'),
    "identifier sniff": re.compile(r'"identifier"\\s\*:'),
}

# a Name node is built by name_node / name_dict; gbif's and orcid's
# names carry extra fields (_note, part) and keep a local struct
NAME_LITERALS = re.compile(r'"type": "Name"|F\.lit\("Name"\)')
NAME_EXEMPT = {"loaders.py", "gbif.py", "orcid.py"}


def _defs() -> Counter:
    names: Counter = Counter()
    for path in SOURCES:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names[node.name] += 1
    return names


def _hits(rx, paths):
    return [
        f"{p.name}:{n}"
        for p in paths
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if rx.search(line)
    ]


@pytest.mark.parametrize("name", SKELETON)
def test_skeleton_defined_once(name):
    assert _defs()[name] == 1, f"{name} must have exactly one definition"


@pytest.mark.parametrize("name", DELETED_DEFS)
def test_per_source_copy_stays_deleted(name):
    assert _defs()[name] == 0, f"def {name} is back under sources/"


@pytest.mark.parametrize("label", sorted(CONSTRUCTIONS))
def test_construction_written_once(label):
    hits = _hits(CONSTRUCTIONS[label], SOURCES)
    assert len(hits) == 1, f"{label} is written {len(hits)} times: {hits}"


def test_names_built_by_name_node_or_name_dict():
    stray = _hits(NAME_LITERALS, [p for p in SOURCES if p.name not in NAME_EXEMPT])
    assert not stray, f"hand-built Name nodes: {stray}"


def test_name_node_serializes_like_name_dict(spark):
    """name_node and its Python twin give byte-identical JSON for
    every (classified, tagged) combination: to_json drops the null
    language / classification exactly where name_dict leaves them out."""
    import json

    from pyspark.sql import functions as F

    from data_pipeline_spark.sources.loaders import name_dict, name_node

    cases = [("Ada", "primaryName", "en"), ("Ada", "primaryName", None),
             ("Ada", None, "fr"), ("Ada", None, None)]
    row = spark.range(1).select(*[
        F.to_json(name_node(F.lit(c), cls, None if lang is None else F.lit(lang)))
        .alias(f"c{i}")
        for i, (c, cls, lang) in enumerate(cases)
    ]).first()
    for i, (c, cls, lang) in enumerate(cases):
        want = name_dict(c, cls, lang)
        assert json.loads(row[f"c{i}"]) == want
        assert row[f"c{i}"] == json.dumps(
            {k: want[k] for k in ("type", "content", "language", "classified_as") if k in want},
            separators=(",", ":"),
        )
