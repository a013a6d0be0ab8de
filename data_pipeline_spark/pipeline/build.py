"""End-to-end build: the reference's full pipeline as chained DataFrame jobs.

run-all.sh's 24-process, file-flag-barrier orchestration (SURVEY §3.1)
collapses into ~6 chained Spark stages — map/parse, reconcile (join family),
closure+idmap (component labeling), reidentify, merge (grouped fold),
extract (edges/facets/names). Stage boundaries that the reference persists
as Postgres cache tiers become eager localCheckpoints, one per tier, so
every layer runs once per build however many tiers a caller consumes;
callers persist whichever tiers they want as Parquet/Delta tables
(sinks/).

At 100TB: every stage is shuffle-bounded by its key (uri or yuid), the
closure runs O(log n) star rounds, and nothing unbounded collects to the
driver — the closure gathers its edge set only when it fits the broadcast
threshold, bounded by a limit before the gather (pipeline/closure.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .edges import extract_edges, extract_facets, extract_names_table
from .envelope import record_uri, with_doc
from .idmap import build_idmap
from .merge_records import merge_by_yuid
from .reconcile import reconcile
from .reidentify import reidentify


def merge_chain(
    records: DataFrame,
    indexes: dict[str, DataFrame],
    idmap_prev: DataFrame | None,
    merge_order: dict[str, int] | None,
    delta_sized: bool,
) -> dict[str, DataFrame]:
    """records + reconcile indexes (+ prev idmap) -> the merge chain's
    tiers: parse -> reconcile -> idmap -> reidentify -> merged.

    Every shared tier (the parsed docs, equiv_edges, idmap, reidentified
    and merged) is one eager localCheckpoint where it is produced, so a
    consumer of several tiers never re-runs an upstream layer and each
    returned tier's plan reads only checkpointed relations.

    ``delta_sized``: the records are a change-feed-sized slice (the
    incremental rebuild) — size-asymmetric joins against prev-build
    relations broadcast the slice side (see idmap.assign_yuids)."""
    # parse the JSON envelope ONCE: reconcile's extractions and all_uris
    # each read the checkpointed struct instead of re-parsing the corpus
    docs = with_doc(records).localCheckpoint()
    equiv_edges = reconcile(docs, indexes).localCheckpoint()
    all_uris = docs.select(record_uri(docs).alias("uri"))
    idmap = build_idmap(equiv_edges, all_uris, idmap_prev, delta_sized).localCheckpoint()
    reidentified = reidentify(
        records.select("source", "identifier", "rectype", "data"), idmap
    ).localCheckpoint()
    merged = merge_by_yuid(
        reidentified.select("yuid", "source", "identifier", "data"), merge_order
    ).localCheckpoint()
    return {
        "equiv_edges": equiv_edges,
        "idmap": idmap,
        "reidentified": reidentified,
        "merged": merged,
    }


def run_build(
    spark: SparkSession,
    records: DataFrame,
    indexes: dict[str, DataFrame],
    idmap_prev: DataFrame | None = None,
    merge_order: dict[str, int] | None = None,
    materialize: bool = True,
) -> dict[str, DataFrame]:
    """records + reconcile indexes (+ prev idmap) -> all output tiers:
    the merge chain's (``merge_chain``) plus the parsed merged docs, one
    more eager localCheckpoint, and the three export extractions read
    from it.

    Reliability caveat (ADVICE r15): localCheckpoint stores
    non-replicated executor-local blocks with TRUNCATED lineage — on a
    cluster with dynamic allocation or executor loss the blocks cannot
    be recomputed and the job fails.  It is the right tool for the
    single-JVM bench/gate shape this function serves; a cluster
    deployment consuming several tiers should persist them (the CLI's
    write-per-tier layout IS that) or use a reliable checkpoint dir.

    ``materialize`` is kept only because the benchmark (entitybench/)
    passes ``True``; ``False`` raises."""
    if not materialize:
        raise ValueError(
            "run_build always checkpoints its tiers; materialize=False is not supported"
        )
    tiers = merge_chain(records, indexes, idmap_prev, merge_order, False)
    # the same parse-once rule for the three export extractions
    merged_docs = with_doc(tiers["merged"]).localCheckpoint()
    return {
        **tiers,
        "edges": extract_edges(merged_docs),
        "facets": extract_facets(merged_docs),
        "names": extract_names_table(merged_docs),
    }
