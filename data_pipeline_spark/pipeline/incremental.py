"""Incremental rebuild (SURVEY §3.2 + R7/R8): apply a change feed and
rebuild ONLY the affected equivalence components.

The reference's incremental path (test_updates.py:55-309, update_manager.py
in /root/reference) re-runs reconcile→merge→export for changed records and
uses the idmap's per-build tokens to know what to refresh. Spark
restatement, every relation computed once:

1. the feed: items after the watermark, one per URI (latest wins,
   ``dedupe_first_seen``), checkpointed — the blast and the slice apply
   both read it;
2. blast radius = every URI sharing a previous component with a seed
   (a changed URI or a link a winning payload can create), each with its
   previous yuid — two broadcast semi-joins through the previous idmap
   (yuid = component id), NOT a graph crawl;
3. the slice: the previous records in the blast with the feed applied,
   rebuilt through the merge chain (``build.merge_chain``) with the
   previous idmap as the stability input, so surviving components keep
   their yuids;
4. splice: each previous tier minus the blast (its yuids for merged and
   idmap, its URIs for records), union the rebuilt slice.

Correctness contract (tested): incremental output == full rebuild on the
updated records tier, row for row. At 100TB the affected slice is
proportional to the change feed, not the corpus — the full-build cost is
paid only by touched components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.ingest import dedupe_first_seen
from .build import merge_chain
from .reconcile import _statically_empty


def _with_uri(records: DataFrame) -> DataFrame:
    """Key the records tier by canonical URI with a single-path JSON
    extract — NOT the full DOC_SCHEMA parse (with_doc): at 30x/900k
    records the full parse made the delta-sized rebuild scale with the
    corpus (35s vs 20s, SCALE.md round 10).  The scan still touches every
    row (unavoidable for a keyed filter without a materialized uri
    column), but the per-row work is one JSON path, and Catalyst prunes
    every other column."""
    return records.withColumn(
        "_uri", F.get_json_object(F.col("data"), "$.id")
    )


def _apply_feed(records: DataFrame, feed: DataFrame) -> DataFrame:
    """Apply a deduped feed (one row per object_uri) to the records tier,
    keyed by the record's canonical URI."""
    keyed = _with_uri(records)

    deletes = feed.filter(F.col("change") == "delete").select(
        F.col("object_uri").alias("_uri")
    )
    # ingest contract (ADVICE r12): a payload's $.id IS its object_uri.
    # The records tier is keyed by $.id everywhere downstream (_with_uri
    # here, the delta fold's _with_key in streaming/entity_stream.py),
    # while feed upserts are keyed by object_uri — a row where the two
    # differ would be applied by this batch path but silently dropped by
    # the streaming delta fold's winner join (or shadow an unrelated
    # record).  Fail loudly at the boundary instead; the guard is woven
    # into the data column so Catalyst cannot prune it away.
    payload_id = F.get_json_object(F.col("payload"), "$.id")
    checked_payload = F.when(
        payload_id.isNotNull() & (payload_id == F.col("object_uri")),
        F.col("payload"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("change feed payload $.id ("),
                F.coalesce(payload_id, F.lit("<missing>")),
                F.lit(") does not match object_uri ("),
                F.col("object_uri"),
                F.lit(") — the records tier is keyed by $.id, so this row "
                      "would diverge between the batch and streaming paths"),
            )
        )
    )
    upserts = (
        feed.filter((F.col("change") != "delete") & F.col("payload").isNotNull())
        .select(
            F.col("object_uri").alias("_uri"),
            checked_payload.alias("data"),
            F.col("end_time").cast("string").alias("record_time"),
        )
        .withColumn("doc", F.from_json("data", "id string, type string"))
        .select(
            "_uri",
            F.regexp_extract("_uri", r"https?://[^/]+/([^/]+)/", 1).alias("source"),
            F.element_at(F.split("_uri", "/"), -1).alias("identifier"),
            F.col("doc.type").alias("rectype"),
            "record_time",
            F.lit("update").alias("change"),
            "data",
        )
    )
    survivors = (
        keyed.join(deletes, "_uri", "left_anti")
        .join(upserts.select("_uri"), "_uri", "left_anti")
    )
    return survivors.unionByName(upserts.select(*survivors.columns)).drop("_uri")


def apply_changes_to_records(records: DataFrame, changes: DataFrame) -> DataFrame:
    """Apply create/update/delete feed rows to the records tier (keyed by
    the record's canonical URI). Latest change per URI wins (R5)."""
    return _apply_feed(records, dedupe_first_seen(changes))


def _blast(
    changes: DataFrame,
    idmap_prev: DataFrame,
    indexes: dict[str, DataFrame] | None,
) -> DataFrame:
    """(uri, yuid): the blast radius of ``changes`` (see affected_uris),
    each previous-component member with its previous yuid, plus every
    seed again with a null yuid (so a seed the previous idmap does not
    know is present).  Rows may repeat: every consumer is a semi or anti
    join, which tolerates them, so no distinct shuffle is paid."""
    from ..functions.strings import clean_name, normalize_url
    from .envelope import DOC_SCHEMA
    from .reconcile import local_uri_expr

    payloads = changes.filter(F.col("payload").isNotNull()).select(
        F.from_json("payload", DOC_SCHEMA).alias("doc")
    )
    asserted = (
        payloads.select(
            F.explode(F.coalesce(F.col("doc.equivalent"), F.array())).alias("e")
        )
        .select(F.col("e.id").alias("uri"))
        .filter(F.col("uri").isNotNull())
    )
    seeds = changes.select(F.col("object_uri").alias("uri")).union(asserted)

    if indexes:
        # an absent index (catalog.empty_indexes: the CLI without
        # --uri-index/--name-index) creates no link: skip its seed join
        uri_index = indexes.get("uri_index")
        if uri_index is not None and not _statically_empty(uri_index):
            idx = uri_index.select(
                normalize_url(F.col("ext_uri")).alias("ext_norm"),
                local_uri_expr(F.col("source"), F.col("target_identifier")).alias("local_uri"),
            )
            resolved = (
                asserted.select(normalize_url(F.col("uri")).alias("ext_norm"))
                .join(F.broadcast(idx), "ext_norm")
                .select(F.col("local_uri").alias("uri"))
            )
            seeds = seeds.union(resolved)
        name_index = indexes.get("name_index")
        if name_index is not None and not _statically_empty(name_index):
            payload_names = (
                payloads.select(
                    F.col("doc.type").alias("p_rectype"),
                    F.explode(
                        F.concat(
                            F.coalesce(
                                F.expr("transform(doc.identified_by, n -> n.content)"),
                                F.array(),
                            ),
                            F.array(F.col("doc._label")),
                        )
                    ).alias("raw"),
                )
                .filter(F.col("raw").isNotNull())
                .select("p_rectype", clean_name(F.col("raw")).alias("p_name"))
            )
            hits = (
                payload_names.join(
                    F.broadcast(name_index),
                    (F.col("p_name") == name_index.name_clean)
                    & (F.col("p_rectype") == name_index.rectype),
                )
                .select(
                    local_uri_expr(F.col("source"), F.col("target_identifier")).alias("uri")
                )
            )
            seeds = seeds.union(hits)

    # seeds and hit yuids are feed-sized (blast ∝ changes, the module
    # contract) — broadcast them so the two idmap passes are shuffle-free
    # scans instead of O(corpus) exchanges (measured: the un-hinted joins
    # shuffled the 900k-row idmap twice per crawl, SCALE.md round 10)
    hit_yuids = idmap_prev.join(
        F.broadcast(seeds.select(F.col("uri").alias("qua_uri"))), "qua_uri", "left_semi"
    ).select("yuid")
    members = idmap_prev.join(F.broadcast(hit_yuids), "yuid", "left_semi").select(
        F.col("qua_uri").alias("uri"), "yuid"
    )
    return members.unionByName(seeds.select("uri", F.lit(None).cast("string").alias("yuid")))


def affected_uris(
    changes: DataFrame,
    idmap_prev: DataFrame,
    indexes: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """(uri): the blast radius — every URI whose component the rebuild may
    touch.

    Seeds are the changed URIs PLUS the links a changed payload can
    CREATE: its asserted ``equivalent[]`` targets, those targets resolved
    through the uri index (J2 would join them to local records), and its
    names' name-index candidates (J1).  Without these, an update that
    newly links into a previously-untouched component would rebuild
    without that component's other members — the spliced output then
    loses their data or keeps a stale duplicate row, breaking the
    documented incremental == full-rebuild contract.  Every seed resolves
    through idmap_prev (the previous build's COMPUTED idmap, so
    pre-existing record-record links are already component-closed) and
    pulls in all members of hit components.  Over-inclusion is safe — it
    only widens the rebuild slice."""
    return _blast(changes, idmap_prev, indexes).select("uri").distinct()


def incremental_build(
    spark: SparkSession,
    records: DataFrame,
    changes: DataFrame,
    indexes: dict[str, DataFrame],
    idmap_prev: DataFrame,
    prev_merged: DataFrame,
    merge_order: dict[str, int] | None = None,
    last_harvest: str | None = None,
) -> dict[str, DataFrame]:
    """One incremental round. Returns the merge chain's tiers for the
    rebuilt slice (equiv_edges, idmap, reidentified, merged) plus the
    spliced full tiers (`merged_full`, `idmap_full`, `records`) and the
    delta-layout outputs (`records_delta`, `touched_uris`,
    `touched_yuids`).

    ``idmap_prev`` must be the PREVIOUS BUILD'S COMPUTED idmap (its full
    qua_uri -> yuid relation), not a partial seed: the blast radius and the
    splice both resolve through it, so yuids it doesn't know about would
    leave stale rows behind. ``last_harvest`` is the R1 watermark — feed
    items at or before it are ignored."""
    if last_harvest is not None:
        changes = changes.filter(
            F.col("end_time") > F.lit(last_harvest).cast("timestamp")
        )
    # the one feed: deduped once for the blast and the slice apply.  A
    # superseded payload is never applied, so it seeds nothing either
    feed = dedupe_first_seen(changes).localCheckpoint()
    # delta-sized by this module's contract, but its lineage holds two
    # corpus-sized idmap scans and it feeds the slice semi-join, the
    # records anti-join, the splice's yuids and the touched manifests
    blast = _blast(feed, idmap_prev, indexes).localCheckpoint()
    blast_uris = F.broadcast(blast.select("uri"))
    keyed = _with_uri(records)

    # slice FIRST, then apply the feed to the delta-sized slice: the only
    # O(corpus) work left is the single-column uri scan of the semi-join.
    # Materialized once: the chain's parse, reidentify's records read and
    # the records splice all read it.
    slice_records = _apply_feed(
        keyed.join(blast_uris, F.col("_uri") == blast_uris.uri, "left_semi").drop("_uri"),
        feed,
    ).localCheckpoint()
    rebuilt = merge_chain(slice_records, indexes, idmap_prev, merge_order, True)
    # reconcile adds every same_as pair, so the slice's closure also labels
    # untouched components; only the blast's rows are the slice's, else
    # idmap_full repeats those rows and touched_yuids names their yuids
    rebuilt["idmap"] = rebuilt["idmap"].join(
        blast_uris, F.col("qua_uri") == blast_uris.uri, "left_semi"
    )

    # every prev yuid in the blast must leave the splice — when two prev
    # components unite under one adopted yuid, the LOSING yuid's old row
    # is not in rebuilt["merged"] and only the blast knows about it
    affected_yuids = F.broadcast(blast.filter(F.col("yuid").isNotNull()).select("yuid"))
    # the splice's O(corpus) passes: one scan per previous tier with
    # broadcast (delta-sized) anti-joins — no corpus-sized exchange
    untouched = prev_merged.join(affected_yuids, "yuid", "left_anti").join(
        F.broadcast(rebuilt["merged"].select("yuid")), "yuid", "left_anti"
    )
    rebuilt["merged_full"] = untouched.unionByName(rebuilt["merged"])
    # the spliced FULL idmap — the next crawl's idmap_prev (the streaming
    # entity twin folds on this): affected components' rows are replaced
    # wholesale by the rebuilt slice's idmap (creates appear, deletes
    # vanish with their records), untouched components' rows survive
    rebuilt["idmap_full"] = (
        idmap_prev.join(affected_yuids, "yuid", "left_anti")
        .unionByName(rebuilt["idmap"].select("qua_uri", "yuid"))
    )
    # every changed URI is a blast seed, so this equals
    # apply_changes_to_records(records, changes)
    rebuilt["records"] = (
        keyed.join(blast_uris, F.col("_uri") == blast_uris.uri, "left_anti")
        .drop("_uri")
        .unionByName(slice_records)
    )
    # delta-layout outputs (streaming/entity_stream merge-on-read state):
    # the blast-radius slice per tier plus the touched-key sets — all
    # delta-sized, so a stateful consumer can persist ONLY these instead
    # of rewriting full tiers per crawl.  touched keys with no delta row
    # are deletions; touched_yuids covers both replaced prev components
    # (affected_yuids) and newly minted ones (the slice idmap).
    rebuilt["records_delta"] = slice_records
    rebuilt["touched_uris"] = blast.select("uri").distinct()
    rebuilt["touched_yuids"] = (
        affected_yuids.union(rebuilt["idmap"].select("yuid")).distinct()
    )
    return rebuilt
