"""catalog.py holds the one session memo: ``memo`` keeps every value the
engine reuses between calls (table scan plans, materialized curation
tiers, the serving model) in one module dict, keyed by application and
checked against one ``input_fingerprint``.  No other module under
data_pipeline_spark/ keeps a module-level memo of its own, hangs state
on the session object, stats input files to fingerprint them or reads
the application id — so a second memo with its own staleness rule
cannot grow back beside it."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ENGINE = Path(__file__).resolve().parent.parent / "data_pipeline_spark"
CATALOG = ENGINE / "catalog.py"
# module-level containers filled at run time that hold no DataFrame or
# planner: the query declarations @query registers at import, and the
# warehouse roots the serving model's at-exit reaper has registered
EXEMPT = {("queries/registry.py", "QUERIES"), ("plans/model.py", "_REAP_AT_EXIT")}
WRITES = {"setdefault", "update", "add", "append"}


def _containers(tree: ast.Module) -> set[str]:
    """Module-level names bound to an empty dict or set."""
    names = set()
    for n in tree.body:
        if isinstance(n, ast.Assign):
            targets = n.targets
        elif isinstance(n, ast.AnnAssign):
            targets = [n.target]
        else:
            continue
        v = n.value
        empty = (isinstance(v, ast.Dict) and not v.keys) or (
            isinstance(v, ast.Call) and getattr(v.func, "id", None) in ("dict", "set") and not v.args
        )
        if empty:
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _written_in_functions(tree: ast.Module, names: set[str]) -> set[str]:
    """Those of ``names`` that a function body stores into."""
    hit = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for n in ast.walk(fn):
            if isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store):
                base = n.value
            elif isinstance(n, ast.Call) and getattr(n.func, "attr", None) in WRITES:
                base = n.func.value
            else:
                continue
            if isinstance(base, ast.Name) and base.id in names:
                hit.add(base.id)
    return hit


def _marks(tree: ast.Module) -> list[str]:
    found = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Attribute) and n.attr == "applicationId":
            found.append(f"applicationId (line {n.lineno})")
        if isinstance(n, ast.Attribute) and n.attr in ("st_mtime", "st_mtime_ns", "getmtime"):
            found.append(f"{n.attr} (line {n.lineno})")
        if (isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "stat"
                and getattr(n.func.value, "id", None) == "os"):
            found.append(f"os.stat (line {n.lineno})")
        if (isinstance(n, ast.Assign) and any(
                isinstance(t, ast.Attribute) and getattr(t.value, "id", None) == "spark"
                for t in n.targets)):
            found.append(f"state on the session object (line {n.lineno})")
    return found


def test_catalog_holds_the_one_memo():
    tree = ast.parse(CATALOG.read_text())
    memos = _written_in_functions(tree, _containers(tree))
    assert memos == {"_MEMO"}, memos
    marks = " ".join(_marks(tree))
    assert "applicationId" in marks and "os.stat" in marks
    defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
    assert {"memo", "input_fingerprint", "forget", "load_table"} <= defs


@pytest.mark.parametrize(
    "path",
    sorted(p for p in ENGINE.rglob("*.py") if p != CATALOG),
    ids=lambda p: str(p.relative_to(ENGINE)),
)
def test_no_second_memo(path):
    rel = str(path.relative_to(ENGINE))
    tree = ast.parse(path.read_text())
    memos = {n for n in _written_in_functions(tree, _containers(tree)) if (rel, n) not in EXEMPT}
    assert not memos, f"{rel} keeps a module-level memo {sorted(memos)}; use catalog.memo"
    marks = _marks(tree)
    assert not marks, f"{rel} carries memo internals {marks}; use catalog.memo"


def test_memo_under_threads(tmp_path):
    """Threads sharing the memo (the DSL CLI under a thread pool) while
    others forget entries and another application inserts: no lookup
    raises, and every value returned is one built for its own key."""
    import sys
    import threading

    from data_pipeline_spark import catalog

    class _Spark:
        def __init__(self, app):
            self.sparkContext = type("Ctx", (), {"applicationId": app})()

    sf = str(tmp_path)
    errors: list[BaseException] = []

    def worker(spark, n):
        try:
            for i in range(300):
                key = ("stress", (n + i) % 7)
                value = catalog.memo(spark, sf, ("t",), key, lambda k=key: (k, object()))
                assert value[0] == key
                if i % 50 == 0:
                    catalog.forget("stress")
        except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
            errors.append(e)

    # the fake applications' inserts drop the real session's entries:
    # put them back afterwards, so later tests keep their memo hits
    saved = dict(catalog._MEMO)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(_Spark("app-a" if n < 10 else "app-b"), n))
                   for n in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        with catalog._MEMO_LOCK:
            catalog._MEMO.clear()
            catalog._MEMO.update(saved)
    assert not errors, errors[0]
