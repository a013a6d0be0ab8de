"""One definition per similarity primitive: the SimHash fingerprint (both
widths), the first-shared-band candidate join, the sign-LSH signature
builder, the Hamming-1 multiprobe flips and the cosine fold are each
defined once under data_pipeline_spark/, the copies they replaced stay
deleted, and operators/ imports nothing from queries/ — so a second copy
cannot grow back beside the one every caller uses."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "data_pipeline_spark"
SOURCES = sorted(PKG.rglob("*.py"))

PRIMITIVES = (
    "simhash_df",
    "simhash_candidates",
    "_simhash_sql",
    "first_shared_band_pairs",
    "embedding_signatures",
    "embedding_signatures_sql",
    "hamming1_flips",
    "hamming1_flips_sql",
    "multiprobe_pairs",
    "cosine",
)

DELETED = (
    "simhash64_df",
    "simhash64_candidates",
    "_simhash64_sql",
    "N_BITS64",
    "SEG64",
    "N_SEGMENTS",
    "cosine_expr",
    "cosine_cols",
    "candidates_from_signatures",
    "probe_candidates",
    "_emb_sig_select_sql",
    "_emb_flips_sql",
    "broadcast_index",
    "auto_broadcast_max_rows",
    "SPARK_GRAFT_D06_MAX_DOCS",
)

# constructions a hand copy of a primitive would repeat verbatim
CONSTRUCTIONS = {
    # the first-shared-band filter's per-band case chain
    "first-shared-band filter": re.compile(r"otherwise\(first_match\)"),
    # the Hamming-1 bit flip of a signature string
    "multiprobe flip": re.compile(r'== "1", "0"\)'),
}


def _defs() -> Counter:
    names: Counter = Counter()
    for path in SOURCES:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names[node.name] += 1
    return names


@pytest.mark.parametrize("name", PRIMITIVES)
def test_primitive_defined_once(name):
    assert _defs()[name] == 1, f"{name} must have exactly one definition"


@pytest.mark.parametrize("name", DELETED)
def test_deleted_name_stays_deleted(name):
    rx = re.compile(rf"\b{re.escape(name)}\b")
    hits = [str(p.relative_to(PKG)) for p in SOURCES if rx.search(p.read_text())]
    assert not hits, f"{name} is back in {hits}"


@pytest.mark.parametrize("what", sorted(CONSTRUCTIONS))
def test_construction_written_once(what):
    rx = CONSTRUCTIONS[what]
    n = sum(len(rx.findall(p.read_text())) for p in SOURCES)
    assert n == 1, f"the {what} is written {n} times; call its one definition"


@pytest.mark.parametrize(
    "path", sorted((PKG / "operators").glob("*.py")), ids=lambda p: p.name
)
def test_operators_import_nothing_from_queries(path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            from_queries = (node.level >= 2 and mod.split(".")[0] == "queries") or (
                mod.startswith("data_pipeline_spark.queries")
            )
            assert not from_queries, f"{path.name} imports from queries ({mod})"
        elif isinstance(node, ast.Import):
            for alias in node.names:
                assert not alias.name.startswith("data_pipeline_spark.queries")
