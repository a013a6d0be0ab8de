"""Identifier management (J7): component labeling -> stable YUID assignment.

Replaces the reference's mutable Redis idmap with in-place UUID unions
(storage/idmap/redis.py:212-311, process/reference_manager.py:212-407 in
/root/reference) by a pure dataflow (SURVEY §4 known-hard #1/#2):

1. connected components over equiv_edges label every URI with the lexical
   minimum member URI of its equivalence class (closure.py: a driver-side
   Arrow/numpy closure when the edge set fits the broadcast threshold,
   distributed star rounds above it);
2. minting is **deterministic**: ``uuid5(NAMESPACE_URL, min_member)`` —
   same input data always yields the same YUID, with no driver-side state
   (replaces ``uuid.uuid4()`` minting, redis.py:221);
3. cross-build stability: join against the previous build's idmap —
   - unchanged component -> keeps its prev yuid;
   - components that JOIN across builds -> the lexically-min prev yuid
     wins (the reference's union-of-YUIDs, redis.py:289-311);
   - a component that SPLITS -> the piece containing the prev yuid's
     lexically-first member keeps it, the rest re-mint.

The uuid5 itself is computed JVM-side from ``sha1`` + hex surgery — no UDF,
so at 100TB minting is free inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .closure import connected_components

# uuid.NAMESPACE_URL, hex-encoded
_NS_URL_HEX = "6ba7b8119dad11d180b400c04fd430c8"


def uuid5_col(name: Column) -> Column:
    """RFC-4122 version-5 UUID of a string column, as a column expression.

    sha1(namespace_bytes || utf8(name)), then version nibble := 5 and
    variant nibble := (v & 0x3) | 0x8 — byte-identical to Python's
    ``uuid.uuid5(uuid.NAMESPACE_URL, name)``."""
    h = F.sha1(F.concat(F.unhex(F.lit(_NS_URL_HEX)), F.encode(name, "UTF-8")))
    variant_src = F.conv(F.substring(h, 17, 1), 16, 10).cast("int")
    variant = F.element_at(
        F.array(F.lit("8"), F.lit("9"), F.lit("a"), F.lit("b")), variant_src % 4 + 1
    )
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("5"), F.substring(h, 14, 3)),
        F.concat(variant, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def label_components(edges: DataFrame, all_uris: DataFrame) -> DataFrame:
    """(uri, component): closure labels for every URI — including
    singletons, which become their own component (the reference still
    mints a YUID for unlinked records)."""
    comps = connected_components(edges, src="src_uri", dst="dst_uri").select(
        F.col("node").alias("uri"), "component"
    )
    singles = (
        all_uris.select("uri")
        .distinct()
        .join(comps, "uri", "left_anti")
        .withColumn("component", F.col("uri"))
    )
    return comps.unionByName(singles)


def assign_yuids(
    components: DataFrame,
    idmap_prev: DataFrame | None = None,
    delta_sized: bool = False,
) -> DataFrame:
    """idmap(qua_uri, yuid) from component labels + the previous build.

    The split rule needs one deterministic winner per prev yuid: the new
    component containing the yuid's lexically-first surviving member."""
    comps = components.select(F.col("uri").alias("qua_uri"), "component")
    if idmap_prev is None or idmap_prev.isEmpty():
        return comps.select("qua_uri", uuid5_col(F.col("component")).alias("yuid"))

    from pyspark.sql import Window as W

    # FULL build: no broadcast hint — the previous idmap AND the new
    # components both scale with the corpus; plain equi-join on qua_uri
    # (both sides bucketable).  INCREMENTAL slice rebuild
    # (delta_sized=True, set by pipeline/incremental.py): the components
    # relation is blast-radius-sized, so broadcasting it keeps the
    # corpus-sized idmap_prev scan shuffle-free — AQE cannot infer this
    # itself because the checkpointed lineage reports no size stats
    # (caught by test_plan_quality's splice plan pin, round 10)
    probe = F.broadcast(comps) if delta_sized else comps
    prev_hits = probe.join(idmap_prev.select("qua_uri", "yuid"), "qua_uri")
    # one winner component per prev yuid (split handling)
    w = W.partitionBy("yuid").orderBy("qua_uri")
    winners = (
        prev_hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("component", "yuid")
    )
    # one adopted yuid per component (join/merge handling: lexical min wins)
    # adopted scales with component count — shuffled join, not broadcast
    adopted = winners.groupBy("component").agg(F.min("yuid").alias("adopted_yuid"))
    return (
        comps.join(adopted, "component", "left")
        .select(
            "qua_uri",
            F.coalesce(
                F.col("adopted_yuid"), uuid5_col(F.col("component"))
            ).alias("yuid"),
        )
    )


def build_idmap(
    edges: DataFrame,
    all_uris: DataFrame,
    idmap_prev: DataFrame | None = None,
    delta_sized: bool = False,
) -> DataFrame:
    """equiv_edges + universe (+ prev build) -> idmap(qua_uri, yuid).

    ``delta_sized``: the caller asserts the component universe is
    change-feed-sized (the incremental slice rebuild) — the prev-idmap
    stability join then broadcasts the component side."""
    return assign_yuids(label_components(edges, all_uris), idmap_prev, delta_sized)
