"""Connected-components labeling — the equivalence-closure engine.

Replaces the reference's per-record BFS collector + mutable Redis idmap
unions (collector.py:108-278, reference_manager.py:212-407) with one
whole-dataset operator: every node is labeled with the minimum node id of
its component.  The operator is routed by size, the same bounded
"gather to one place" decision a broadcast join makes:

- **local** — when the de-self-looped edge set fits
  ``spark.sql.autoBroadcastJoinThreshold``, it is gathered once (bounded
  by ``limit`` before the gather, never after), dictionary-encoded with
  Arrow and closed on the driver by a numpy min-label/pointer-jumping
  kernel; the labels go back as one Arrow-backed DataFrame.  One job
  instead of one shuffle round trip per iteration: at entity-equivalence
  sizes the closure's cost was driver planning between round actions,
  not work.
- **star** — above the threshold (or with the threshold at ``-1``, which
  also disables broadcast joins), large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond"): O(log n) rounds on
  any graph, each round one action with one exchange per star operation
  and the fixpoint test computed in-band (see ``connected_components_star``).

Scale notes (100TB): the star path never collects a node's neighbourhood
into one row — each star operation is a window over the node key, which
streams a hot hub's neighbours instead of building them into an array —
and each round's edge set is a localCheckpoint, so plans do not grow with
the round count.  A graph just above the threshold pays one extra pass
over its input lineage for the refused gather.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Label every node of the undirected graph with the minimum node id
    reachable from it.  Returns DataFrame(node, component), both of the
    input column's type.

    ``edges`` may be directed and contain duplicates; self-loops and edges
    with a null endpoint are dropped, so a node whose only edges are those
    gets no label.  ``stats`` (if given) receives {"rounds": n,
    "algorithm": "local" | "star"} so tests and tools can pin the route
    and the convergence claim.  ``max_iter`` bounds the star rounds; the
    local kernel always runs to its fixpoint."""
    spark = edges.sparkSession
    # `u != v` is null (so filtered) when either endpoint is null
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if threshold >= 0:
        node_type = e.schema["u"].dataType
        # Spark's own per-row size estimate (row overhead + type default
        # sizes) turns the byte threshold into a row bound for the limit
        row_bytes = 8 + 2 * e._jdf.schema().apply("u").dataType().defaultSize()
        cap = min(threshold // row_bytes, 2**31 - 2)  # limit() takes an int
        tbl = e.limit(cap + 1).toArrow()
        if tbl.num_rows <= cap and tbl.nbytes <= threshold:
            nodes, labels, rounds = _close_local(tbl)
            if stats is not None:
                stats["rounds"] = rounds
                stats["algorithm"] = "local"
            schema = StructType(
                [StructField("node", node_type), StructField("component", node_type)]
            )
            return spark.createDataFrame(
                pa.table({"node": nodes, "component": labels}), schema
            )
    out = connected_components_star(e, "u", "v", max_iter=max_iter, stats=stats)
    if stats is not None:
        stats["algorithm"] = "star"
    return out


def _close_local(tbl: pa.Table) -> tuple[pa.Array, pa.Array, int]:
    """(sorted nodes, their component labels, hooking rounds) of a
    gathered two-column edge table.

    Nodes are dictionary-encoded and renumbered by sort rank, so the
    minimum node id of a component is its minimum index.  The kernel is
    Shiloach-Vishkin shaped: every edge hooks the larger of its two roots
    under the smaller (``np.minimum.at``, so each root takes its minimum
    proposal), then pointer jumping flattens every tree to depth one.
    Roots only ever move to smaller roots, so the component minimum —
    which nothing can undercut — ends as every member's root; each round
    at least halves the number of trees that still have a crossing edge."""
    ends = pa.concat_arrays(
        [tbl.column(0).combine_chunks(), tbl.column(1).combine_chunks()]
    )
    enc = pc.dictionary_encode(ends)
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    ids = rank[enc.indices.to_numpy()]
    u, v = ids[: tbl.num_rows], ids[tbl.num_rows:]
    parent = np.arange(len(order))
    rounds = 0
    while not np.array_equal(parent[u], parent[v]):
        rounds += 1
        pu, pv = parent[u], parent[v]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    nodes = enc.dictionary.take(pa.array(order))
    return nodes, nodes.take(pa.array(parent)), rounds


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star + small-star round over canonical edges (hi > lo).

    Rows with a null ``lo`` are markers: one per node of the round's INPUT
    that is neither a root (every neighbour larger) nor a leaf (exactly
    one neighbour, and it is smaller).  The input's markers are dropped;
    the output's count the input's non-star nodes, which is zero exactly
    when the input is already the fixpoint — a forest of stars rooted at
    each component's minimum.

    Each star operation is ONE window exchange over the node key: the
    window's min/max give the closed neighbourhood minimum and the
    root/leaf test, and its lag drops duplicate edges in-band (both
    operations emit some), so no `distinct` exchange is needed."""
    u, v, hi, lo = F.col("u"), F.col("v"), F.col("hi"), F.col("lo")
    node_type = e.schema["hi"].dataType
    by_u = Window.partitionBy("u").orderBy("v")
    whole_u = by_u.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # large star: connect every strictly-larger neighbour of u to the
    # minimum of u's closed neighbourhood
    sym = e.filter(lo.isNotNull()).select(
        F.inline(
            F.array(
                F.struct(hi.alias("u"), lo.alias("v")),
                F.struct(lo.alias("u"), hi.alias("v")),
            )
        )
    )
    mn, mx, prev = F.col("mn"), F.col("mx"), F.col("prev")
    large = (
        sym.select(
            "u",
            "v",
            F.min("v").over(whole_u).alias("mn"),
            F.max("v").over(whole_u).alias("mx"),
            F.lag("v").over(by_u).alias("prev"),
        )
        .filter(prev.isNull() | (prev != v))
        .select(
            F.inline(
                F.array(
                    F.when(
                        v > u, F.struct(v.alias("hi"), F.least(u, mn).alias("lo"))
                    ),
                    # prev is null on u's first row only: one marker per node
                    F.when(
                        prev.isNull() & (mn < u) & (mx > mn),
                        F.struct(u.alias("hi"), F.lit(None).cast(node_type).alias("lo")),
                    ),
                )
            )
        )
        .filter(hi.isNotNull())
    )
    # small star: connect hi and each of its smaller neighbours to the
    # minimum of that set.  Nulls sort first, so a marker is its
    # partition's first row: its running min stays null (it passes
    # through as a marker) and the real rows' running min is the minimum
    by_hi = Window.partitionBy("hi").orderBy("lo")
    return (
        large.select(
            "hi",
            "lo",
            F.min("lo").over(by_hi).alias("mn"),
            F.lag("lo").over(by_hi).alias("prev"),
        )
        .filter(prev.isNull() | (prev != lo))
        .select(
            F.when(lo.isNull() | (lo == mn), hi).otherwise(lo).alias("hi"),
            mn.alias("lo"),
        )
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Large-star/small-star connected components: alternate the two star
    operations until the edge set is a forest of stars, then read each
    node's component off its star root.  O(log n) rounds on any graph.

    Each round is ONE action: the round's edge set is a lazy
    localCheckpoint whose blocks are computed by the count of its marker
    rows (``_star_round``) — the fixpoint test rides in the job that
    materializes the round, so a round costs its two window exchanges
    plus that count, with no set comparison of old and new edges."""
    e = edges.filter(F.col(src) != F.col(dst)).select(
        F.greatest(src, dst).alias("hi"), F.least(src, dst).alias("lo")
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # lazy is safe: the count is the round's first and only consumer
        # until the next round's single scan
        e = _star_round(e).localCheckpoint(eager=False)
        non_star = e.filter(F.col("lo").isNull())
        # an RDD count of the filtered scan: one job, no aggregate exchange
        if non_star._jdf.queryExecution().toRdd().count() == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # a star forest: each leaf's only row names its root; roots map to
    # themselves (min also covers an unconverged max_iter cut-off)
    return (
        e.filter(F.col("lo").isNotNull())
        .select(
            F.inline(
                F.array(
                    F.struct(F.col("hi").alias("node"), F.col("lo").alias("component")),
                    F.struct(F.col("lo").alias("node"), F.col("lo").alias("component")),
                )
            )
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
