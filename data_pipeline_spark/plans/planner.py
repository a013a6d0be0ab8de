"""Planner: search-DSL AST -> DataFrame plan over the entities/edges model.

Replaces the reference's cts emission (storage/marklogic/cts.py:5-160 — AST
-> MarkLogic cts.* JS) with a builder that emits declarative DataFrame ops,
so Catalyst handles pushdown/join-selection and the same query scales from
the sf0.001 smoke table to a 100TB entities table unchanged.

Plan shapes:
- Leaf comparison  -> pushed-down filter on `entities`
- AND              -> chain of id semi-joins (each leg prunes the next)
- OR               -> union + distinct
- NOT              -> anti-join against the universe
- rel(sub)         -> edges semi-join: subject where object IN sub-plan (Q5)
- ^rel(sub)        -> reversed direction (Q6)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parser import Bool, Leaf, Near, Rel, parse

_OPS = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    # Q4 word query: tokenized, case-folded whole-word containment (the
    # unstemmed core of the reference's cts word queries)
    "~": lambda c, v: F.array_contains(F.split(F.lower(c), r"\W+"), F.lower(v)),
}


class SearchPlanner:
    """Compile DSL queries against an entity/edge model.

    ``entities`` must have an `id` column plus queryable field columns
    (e.g. type, name, number, date). ``edges`` is (subject, predicate,
    object).
    """

    def __init__(
        self,
        entities: DataFrame,
        edges: DataFrame,
        any_predicate: str = "any",
        edges_object_keyed: DataFrame | None = None,
    ):
        self.entities = entities
        self.edges = edges
        # FORWARD hops join edges on OBJECT (subject where object IN sub),
        # inverse hops on SUBJECT — so a layout clustered/bucketed by
        # object serves forward traversals and the subject layout serves
        # inverse ones.  When the caller has only one relation, both
        # directions use it (identical results either way; the split is
        # purely the exchange-elimination lever, model.load_planner).
        self.edges_object_keyed = (
            edges_object_keyed if edges_object_keyed is not None else edges
        )
        # the reference's `any` relationship (searchConfig.json
        # `any: [lux:*Any, Reference]`, ml_lexer.py:286): a traversal
        # matching over EVERY predicate — compiled as the edge semi-join
        # without the predicate filter.  The unambiguous AST form is
        # Rel(predicate=None), which the parser emits for `*(...)` /
        # {"*": {...}}; `any_predicate` only maps the reference's NAMED
        # surface onto it.  If the edge relation has a genuine predicate
        # literally named "any", pass any_predicate=None — the name then
        # filters normally and `*` remains the only wildcard spelling.
        self.any_predicate = any_predicate

    def plan(self, query: str | object) -> DataFrame:
        """Return a DataFrame of matching entity `id`s (distinct)."""
        ast = parse(query) if isinstance(query, str) else query
        return self._plan(ast).distinct()

    def search(self, query: str | object) -> DataFrame:
        """Plan + join back to the entity row (the 'fetch record' step)."""
        ids = self.plan(query)
        return self.entities.join(ids, "id", "left_semi")

    def search_scored(self, query: str | object, boost: str | object | None = None) -> DataFrame:
        """Q3's BOOST: rank the primary query's matches by whether they
        also satisfy the boost query (cts boostQuery semantics — boost
        affects order, never membership). Returns (id, score) with
        score = 1 + 1 per satisfied boost, deterministically ordered.

        A top-level BOOST(base, boosted) in the query string itself (the
        string-grammar surface, ml_lexer.py:328) splits into its two legs
        here — equivalent to passing them separately."""
        ast = parse(query) if isinstance(query, str) else query
        if boost is None and isinstance(ast, Bool) and ast.op == "BOOST":
            ast, boost = ast.children
        ids = self.plan(ast)
        if boost is None:
            return ids.withColumn("score", F.lit(1))
        boosted = self.plan(boost).withColumn("_b", F.lit(1))
        return (
            ids.join(boosted, "id", "left")
            .select(
                "id",
                (F.lit(1) + F.coalesce(F.col("_b"), F.lit(0))).alias("score"),
            )
        )

    def similar(self, entity_id: str, number_window: float = 100.0) -> DataFrame:
        """Q7 similar-to (QBE, ml_lexer.py:22-148 semantics): synthesize a
        query from the entity's own attributes — same type AND (shares an
        outbound edge target OR numeric field within ±window), self
        excluded. The target row broadcasts (single row); candidates come
        from the edges index, so no full scan beyond the type filter."""
        tgt = self.entities.filter(F.col("id") == entity_id).select(
            F.col("id").alias("tid"),
            F.col("type").alias("ttype"),
            F.col("number").alias("tnum"),
        )
        tgt_edges = self.edges.join(
            F.broadcast(tgt), F.col("subject") == F.col("tid")
        ).select("predicate", "object")
        shared = (
            self.edges.join(F.broadcast(tgt_edges), ["predicate", "object"], "left_semi")
            .select(F.col("subject").alias("id"))
        )
        near = (
            self.entities.crossJoin(F.broadcast(tgt))
            .filter(F.abs(F.col("number") - F.col("tnum")) <= number_window)
            .select("id")
        )
        return (
            self.entities.join(shared.union(near).distinct(), "id", "left_semi")
            .crossJoin(F.broadcast(tgt))
            .filter((F.col("type") == F.col("ttype")) & (F.col("id") != F.col("tid")))
            .select("id")
            .distinct()
        )

    def _near_condition(self, node: Near):
        """cts nearQuery (cts.py:131) over a field column: every
        consecutive pair of word queries must co-occur within
        ``node.distance`` tokens.  Row-local: token positions via a
        two-arg transform + filter, proximity via nested exists — no
        explode, no join, so NEAR composes into any plan as a plain
        filter (the d11 declared query is the exploded-join twin for the
        documents table).  Children must be word-query leaves (`~`) on
        the same field."""
        leaves = node.children
        for c in leaves:
            if not isinstance(c, Leaf) or c.op != "~":
                raise ValueError("NEAR children must be word queries (field~word)")
        fields = {c.field for c in leaves}
        if len(fields) != 1:
            raise ValueError(f"NEAR children must target one field, got {fields}")
        toks = F.split(F.lower(F.col(fields.pop())), r"\W+")

        def positions(word: str):
            return F.filter(
                F.transform(
                    toks,
                    lambda t, i: F.when(t == F.lit(str(word).lower()), i).otherwise(
                        F.lit(None)
                    ),
                ),
                lambda x: x.isNotNull(),
            )

        cond = F.lit(True)
        for a, b in zip(leaves, leaves[1:]):
            pa, pb = positions(a.value), positions(b.value)

            def pair_cond(pa, pb):
                return F.exists(
                    pa,
                    lambda x: F.exists(
                        pb, lambda y: F.abs(x - y) <= F.lit(node.distance)
                    ),
                )

            cond = cond & pair_cond(pa, pb)
        return cond

    # -- recursive plan builder ------------------------------------------
    def _plan(self, node) -> DataFrame:
        if isinstance(node, Leaf):
            cond = _OPS[node.op](F.col(node.field), F.lit(node.value))
            return self.entities.filter(cond).select("id")
        if isinstance(node, Bool):
            if node.op == "AND":
                legs = [self._plan(c) for c in node.children]
                return reduce(lambda acc, leg: acc.join(leg, "id", "left_semi"), legs)
            if node.op == "OR":
                legs = [self._plan(c) for c in node.children]
                return reduce(lambda a, b: a.union(b), legs)
            if node.op == "NOT":
                matched = self._plan(node.children[0])
                return self.entities.select("id").join(matched, "id", "left_anti")
            if node.op == "ANDNOT":
                # cts andNotQuery(positive, negative): set difference as a
                # direct anti-join — no universe scan, unlike AND(x, NOT(y))
                pos, neg = node.children
                return self._plan(pos).join(self._plan(neg), "id", "left_anti")
            if node.op == "BOOST":
                # cts boostQuery: membership is the BASELINE's alone — the
                # boost leg only affects ranking (search_scored)
                return self._plan(node.children[0])
            raise ValueError(f"unknown bool op {node.op}")
        if isinstance(node, Near):
            return self.entities.filter(self._near_condition(node)).select("id")
        if isinstance(node, Rel):
            sub = self._plan(node.child)
            e = self.edges if node.inverse else self.edges_object_keyed
            wildcard = node.predicate is None or (
                self.any_predicate is not None
                and node.predicate == self.any_predicate
            )
            if not wildcard:
                e = e.filter(F.col("predicate") == node.predicate)
            if node.inverse:
                # entities pointed TO by matches of the sub-plan
                return (
                    e.join(sub, e.subject == sub.id, "left_semi")
                    .select(F.col("object").alias("id"))
                )
            return (
                e.join(sub, e.object == sub.id, "left_semi")
                .select(F.col("subject").alias("id"))
            )
        raise TypeError(f"unknown AST node {node!r}")
