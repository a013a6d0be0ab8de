"""One definition per curation primitive: the whitespace tokenizer and
content fingerprint (functions/strings.py), the d04 quality rule and its
keeper election (queries/text.py, queries/dedup.py), the MinHash
candidate join and Jaccard verify SQL (queries/dedup.py), the DuckDB
closure walk (pipeline/closure.py) and the bigram-LM oracle
(queries/text5.py), the Gopher quality rule (queries/text4.py) and the
planted PII-tail and duplicate fixtures (queries/text3.py,
queries/text4.py) are each defined once under data_pipeline_spark/,
beside their Spark twins, and the copies they replaced stay deleted — so
a second separator, stopword set or walk cannot grow back and drift."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "data_pipeline_spark"
SOURCES = sorted(PKG.rglob("*.py"))

PRIMITIVES = (
    "words",
    "words_sql",
    "content_fp",
    "content_fp_sql",
    "quality_counts",
    "quality_counts_sql",
    "quality_ok",
    "elect_keepers",
    "_quality_sql",
    "_groups_sql",
    "_cands_sql",
    "_verify_sql",
    "_verified_sql",
    "closure_sql",
    "lm_train_sql",
    "lm_score_sql",
    "gopher_metrics",
    "gopher_metrics_sql",
    "pii_tail",
    "_dup_planted",
    "_dup_planted_sql",
)

DELETED = (
    "_WS_SPLIT",
    "_WS",
    "_WS_SQL",
    "CONTENT_FP_SQL",
    "_SHINGLES_SQL",
    "_D57_SCORE_SQL",
    "_norm_text",
    "_PII_INJECT_SQL",
    "_PII_TAIL_SQL",
    "_DUP_PLANTED_SQL",
    "_D48_PREV_MOD",
)

# constructions a hand copy of a primitive would repeat verbatim; each
# is written once in the package, for both engines
CONSTRUCTIONS = {
    # the whitespace class, in any Python spelling: raw control
    # characters, single- or double-escaped
    "separator literal": re.compile(r"\[ (\t|\\t|\\\\t)"),
    # the d04 stopword set, either quoting
    "stopword set": re.compile(r"""["']the["'], ["']a["'], ["']of["'], ["']and["']"""),
    # the sym-seeded recursive closure walk (j05's node-seeded walk is
    # a different shape)
    "closure walk": re.compile(r"SELECT s, s FROM sym"),
    "band candidate join": re.compile(r"FROM bands a JOIN bands b"),
    "verify sizes CTE": re.compile(r"sizes AS \(SELECT id"),
    "keeper election (SQL)": re.compile(r"WHERE g\.doc_id IS NULL OR g\.keeper = q\.doc_id"),
    "keeper election (Spark)": re.compile(r'F\.col\("keeper"\)\.isNull\(\)'),
    "LM unigram CTE": re.compile(r"ref_uni AS \("),
    "LM backoff score": re.compile(r"// \(s\.tt \+ s\.vv\)"),
    # the Gopher alpha-word rule (gopher_metrics_sql), the PII-tail plant
    # (pii_tail / PII_TAIL_SQL) and the d27 boilerplate plant
    # (_dup_planted / _dup_planted_sql), one spelling per engine
    "Gopher alpha rule (SQL)": re.compile(r"regexp_matches\(w, '\[a-z\]'\)"),
    "PII-tail plant (Spark)": re.compile(r'F\.lit\(" contact user"\)'),
    "PII-tail plant (SQL)": re.compile(r"' contact user' \|\|"),
    "boilerplate plant (Spark)": re.compile(r'F\.lit\("shared boilerplate page "\)'),
    "boilerplate plant (SQL)": re.compile(r"'shared boilerplate page ' \|\|"),
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


@pytest.mark.parametrize("label", sorted(CONSTRUCTIONS))
def test_construction_written_once(label):
    rx = CONSTRUCTIONS[label]
    hits = [
        f"{p.relative_to(PKG)}:{n}"
        for p in SOURCES
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if rx.search(line)
    ]
    assert len(hits) == 1, f"{label} is written {len(hits)} times: {hits}"


def test_oracles_use_the_one_tokenizer():
    """Every declared oracle splits on the one separator spelling: the
    generated SQL carries it escaped, never as raw control characters."""
    from data_pipeline_spark.functions.strings import WS
    from data_pipeline_spark.queries import QUERIES

    raw = "[ \t\n\f\r]+"
    uses = [n for n, q in QUERIES.items() if q.oracle and WS in q.oracle]
    stray = [n for n, q in QUERIES.items() if q.oracle and raw in q.oracle]
    assert uses and not stray, f"raw-character separators in {stray}"
