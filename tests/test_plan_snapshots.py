"""Plan-SHAPE snapshots for the whole headline suite.

test_plan_quality pins specific load-bearing properties (a broadcast
here, a pruned scan there); this file pins the BROAD shape of every
headline query's physical plan — per-operator counts of joins,
exchanges, aggregates and Python boundaries — against a committed
snapshot.  A change that silently flips a broadcast join to sort-merge,
adds a shuffle, or drops map-side partial aggregation in ANY headline
query fails here with a readable diff, even if no targeted pin covers
that query.

Intentional plan changes regenerate the snapshot:

    SPARK_GRAFT_UPDATE_PLAN_SNAPSHOTS=1 python -m pytest \
        tests/test_plan_snapshots.py -q

and the snapshot diff then shows up in review like any other code
change.  Counts are tools/measure.py's ``plan_signature`` (the one
operator-count rule, also what ``measure.py plans`` reports) of the
pre-execution adaptive plan (isFinalPlan=false), which is deterministic for fixed testdata +
session confs — AQE runtime re-plans don't feed into it.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest

from data_pipeline_spark.queries import QUERIES
from tools.measure import plan_signature

SF = "/root/testdata/sf0.001"
SNAPSHOT_PATH = Path(__file__).parent / "plan_snapshots.json"


def headline_names() -> list[str]:
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return list(mod.HEADLINE)


def test_headline_plan_shapes_match_snapshot(spark):
    update = os.environ.get("SPARK_GRAFT_UPDATE_PLAN_SNAPSHOTS") == "1"
    names = headline_names()
    got = {}
    for name in names:
        df = QUERIES[name].spark_fn(spark, SF)
        got[name] = plan_signature(
            df._jdf.queryExecution().executedPlan().toString()
        )
    if update or not SNAPSHOT_PATH.exists():
        SNAPSHOT_PATH.write_text(json.dumps(got, indent=1, sort_keys=True) + "\n")
        if not update:
            pytest.skip("snapshot created — rerun to compare")
        return
    want = json.loads(SNAPSHOT_PATH.read_text())
    assert set(got) == set(want), (
        "HEADLINE changed — regenerate with SPARK_GRAFT_UPDATE_PLAN_SNAPSHOTS=1"
    )
    diffs = {
        n: {"got": got[n], "want": want[n]}
        for n in names
        if got[n] != want[n]
    }
    assert not diffs, (
        "plan shapes drifted (regenerate deliberately with "
        f"SPARK_GRAFT_UPDATE_PLAN_SNAPSHOTS=1 if intended): {json.dumps(diffs, indent=1)}"
    )
