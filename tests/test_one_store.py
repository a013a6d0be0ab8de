"""streaming/index_util.py is the one bucketed-base store: no other
module under data_pipeline_spark/streaming/ hashes rows to buckets,
reads or writes a bucket meta or a compaction plan, or names the staging
dir — so a second store cannot grow back beside it."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

STREAMING = Path(__file__).resolve().parent.parent / "data_pipeline_spark" / "streaming"
STORE = "index_util.py"
MARKS = {
    "xxhash64": re.compile(r"xxhash64"),
    "_META.json": re.compile(r"_META\.json"),
    "plan.json": re.compile(r"plan\.json"),
    # the staging dir name, not a dotted call like index_util.compact_index
    ".compact": re.compile(r"(?<!\w)\.compact\b"),
}


def test_store_module_holds_every_rule():
    src = (STREAMING / STORE).read_text()
    assert all(rx.search(src) for rx in MARKS.values())


@pytest.mark.parametrize(
    "path",
    sorted(p for p in STREAMING.glob("*.py") if p.name != STORE),
    ids=lambda p: p.name,
)
def test_no_second_store_in_streaming(path):
    src = path.read_text()
    hits = [mark for mark, rx in MARKS.items() if rx.search(src)]
    assert not hits, f"{path.name} carries store internals {hits}; use {STORE}"
