"""Reusable scale-path operators beyond the declared-query surface:
vector similarity and approximate nearest neighbors (similarity.py),
skew, range and as-of joins (skew.py, range_join.py, asof.py), multimodal
column plumbing (multimodal.py). Each is a library API over DataFrames,
exercised by tests/ and surfaced through queries/ where an oracle
exists; nothing here imports from queries/.
"""
