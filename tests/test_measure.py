"""tools/measure.py, the one measurement harness: its scenarios run on the
test session, and no script under tools/ carries a private session, a
private canary or its own copy of the build chain."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

import pytest

from tests.conftest import SF_SMOKE

TOOLS = Path(__file__).resolve().parent.parent / "tools"
CHAIN = ("reconcile", "build_idmap", "reidentify", "merge_by_yuid")


@pytest.fixture(scope="module")
def measure():
    spec = importlib.util.spec_from_file_location("measure", TOOLS / "measure.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_reports_reps_jobs_and_canaries(spark, measure):
    res = measure.run_queries(spark, ["q01_pricing_summary"], SF_SMOKE, reps=1)
    assert len(res["reps"]["q01_pricing_summary"]) == 1
    assert res["jobs"]["q01_pricing_summary"][0] >= 1
    for canary in ("canary_spin_sec", "canary_spark_sec"):
        assert set(res[canary]) == {"start", "end"}
        assert all(v > 0 for v in res[canary].values())


def test_build_calls_the_engine_chain_once(spark, measure, monkeypatch):
    from data_pipeline_spark.pipeline import build, incremental

    calls = {"run_build": 0, "incremental_build": 0}

    def spy(mod, name):
        real = getattr(mod, name)

        def wrapper(*a, **k):
            calls[name] += 1
            return real(*a, **k)

        monkeypatch.setattr(mod, name, wrapper)

    spy(build, "run_build")
    spy(incremental, "incremental_build")
    res = measure.run_build_scenario(spark, SF_SMOKE, crawl=20)
    assert calls == {"run_build": 1, "incremental_build": 1}
    assert set(res["reps"]) == {"run_build", "incremental_build"}
    c = res["counters"]
    # the pair corpus: one two-member component per customer
    assert c["records"] == 2 * c["components"] == 2 * c["merged"]
    assert c["largest_group"] == 2
    assert c["changes"] == 20


def test_plans_counts_match_the_plan_snapshot(spark, measure, tmp_path):
    import json

    name = "q09_product_profit_by_nation"
    res = measure.run_plans(spark, [name], SF_SMOKE, out_dir=str(tmp_path))
    snap = json.loads((Path(__file__).parent / "plan_snapshots.json").read_text())[name]
    # the full signature: a join or aggregate strategy flip must show
    assert res["ops"][name] == snap
    assert (tmp_path / f"{name}.txt").read_text().startswith("== Physical Plan ==")


def _tool_sources():
    return sorted(TOOLS.glob("*.py"))


@pytest.mark.parametrize("path", _tool_sources(), ids=lambda p: p.name)
def test_no_private_session_or_chain_copy_in_tools(path):
    src = path.read_text()
    assert "SparkSession.builder" not in src
    assert "def _spin" not in src
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names = [a.name for a in node.names] + [getattr(node, "module", None) or ""]
            hits = [n for n in names for c in CHAIN if c in n.split(".")]
            assert not hits, f"{path.name} imports build-chain layer {hits}"
