"""plans/model.py holds the one search-model form: ``materialize_model``
writes entities plus the two bucketed edge layouts, ``load_planner``
reads them back, and ``serving_planner`` is the two once per session.
No other engine, tool or bench module builds a planner, no module under
plans/ caches a model in memory, and the retired second and third forms
do not come back under their old names."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "data_pipeline_spark"
MODEL = ENGINE / "plans" / "model.py"
SOURCES = sorted(
    [*ENGINE.rglob("*.py"), *(ROOT / "tools").glob("*.py"), ROOT / "bench.py"]
)
RETIRED = ("build_planner", "_PLANNERS", "materialize_model_bucketed",
           "load_planner_bucketed")


def _calls(tree: ast.AST, name: str) -> list[int]:
    """Line of every call to ``name`` (bare or as an attribute)."""
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and (getattr(n.func, "id", None) == name or getattr(n.func, "attr", None) == name)
    ]


def test_model_module_has_one_writer_and_one_loader():
    tree = ast.parse(MODEL.read_text())
    defs = [n.name for n in tree.body if isinstance(n, ast.FunctionDef)]
    assert defs.count("materialize_model") == 1 and defs.count("load_planner") == 1
    assert len(_calls(tree, "SearchPlanner")) == 1, "one loader builds the planner"
    assert _calls(tree, "write_bucketed"), "the edge layouts go through write_bucketed"


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_no_second_model_form(path):
    src = path.read_text()
    tree = ast.parse(src)
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    names |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    names |= {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    names |= {n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    back = [r for r in RETIRED if r in names]
    assert not back, f"{path.name} brings back {back}; use plans.model.serving_planner"
    if path != MODEL:
        assert not _calls(tree, "SearchPlanner"), (
            f"{path.name} builds its own planner; use plans.model.serving_planner"
        )
    if path.parent.name == "plans":
        cached = _calls(tree, "cache") + _calls(tree, "persist")
        assert not cached, f"{path.name} caches a model in memory at lines {cached}"
