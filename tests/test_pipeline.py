"""End-to-end tests of the ETL pipeline over the Family-B fixtures
(FIXTURES.md): reconcile joins, differentFrom splits, sameAs bridges,
closure, deterministic minting, prev-build yuid stability (merge + split),
reidentification, per-entity merge rules, and edge extraction.
"""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark.pipeline.build import run_build
from data_pipeline_spark.pipeline.fixtures import (
    PREV_YUID_P1,
    PREV_YUID_P4,
    PREV_YUID_P5,
    PREV_YUID_P67,
    fixture_tables,
    uri,
)
from data_pipeline_spark.pipeline.idmap import uuid5_col


@pytest.fixture(scope="module")
def built(spark):
    t = fixture_tables(spark)
    out = run_build(
        spark,
        t["records"],
        {k: t[k] for k in ("name_index", "uri_index", "same_as", "different_from")},
        idmap_prev=t["idmap_prev"],
        merge_order={"srcA": 0, "extX": 1, "extY": 2},
    )
    # materialize the interesting tiers once
    return {
        "idmap": {r.qua_uri: r.yuid for r in out["idmap"].collect()},
        "edges_df": out["equiv_edges"],
        "merged": {r.yuid: json.loads(r.data) for r in out["merged"].collect()},
        "graph_edges": [(r.subject, r.predicate, r.object) for r in out["edges"].collect()],
        "reidentified": {
            (r.source, r.identifier): r.data for r in out["reidentified"].collect()
        },
        "facets": {r.yuid: r.asDict() for r in out["facets"].collect()},
    }


def test_uuid5_col_matches_python(spark):
    names = ["https://fixture.test/srcA/p1", "x", "héllo/ünïcode", ""]
    df = spark.createDataFrame([(n,) for n in names], ["n"]).select(
        "n", uuid5_col(F.col("n")).alias("u")
    )
    for r in df.collect():
        assert r.u == str(uuid.uuid5(uuid.NAMESPACE_URL, r.n)), r.n


def test_chain_closure_one_component(built):
    """srcA/p1 -> extX/e1 -> extY/f1 must share one yuid (J5 transitivity)."""
    ids = built["idmap"]
    assert ids[uri("srcA", "p1")] == ids[uri("extX", "e1")] == ids[uri("extY", "f1")]


def test_prev_yuid_stability(built):
    """Unchanged component keeps its previous build's yuid (R7/J7)."""
    assert built["idmap"][uri("srcA", "p1")] == PREV_YUID_P1


def test_prev_yuid_merge_on_component_join(built):
    """p4+p5 connected this build: both get ONE yuid = lexical min of the
    two previous yuids (the union-of-YUIDs rule)."""
    ids = built["idmap"]
    assert ids[uri("srcA", "p4")] == ids[uri("srcA", "p5")] == ids[uri("extX", "e4")]
    assert ids[uri("srcA", "p4")] == min(PREV_YUID_P4, PREV_YUID_P5)


def test_prev_yuid_split(built):
    """p6/p7 no longer linked: exactly one keeps the old shared yuid, the
    other re-mints deterministically."""
    ids = built["idmap"]
    y6, y7 = ids[uri("srcA", "p6")], ids[uri("srcA", "p7")]
    assert y6 != y7
    assert PREV_YUID_P67 in (y6, y7)
    minted = y7 if y6 == PREV_YUID_P67 else y6
    keeper_uri = uri("srcA", "p7") if y6 == PREV_YUID_P67 else uri("srcA", "p6")
    assert minted == str(uuid.uuid5(uuid.NAMESPACE_URL, keeper_uri))


def test_different_from_splits_component(built):
    """p2 and e2 share a name (name_index hit) but are vetoed (J3)."""
    ids = built["idmap"]
    assert ids[uri("srcA", "p2")] != ids[uri("extX", "e2")]


def test_same_as_bridges_components(built):
    """p3 and f3 have no record/name/uri link — only the curated sameAs."""
    ids = built["idmap"]
    assert ids[uri("srcA", "p3")] == ids[uri("extY", "f3")]


def test_http_https_variant_uri_join(built):
    """g1's http://www... equivalent matches f9's https index entry (F10)."""
    ids = built["idmap"]
    assert ids[uri("srcA", "g1")] == ids[uri("extY", "f9")]


def test_type_mismatch_no_name_edge(built):
    """name_index has 'guild of st luke' -> e2 with rectype Person; the
    Group record must NOT join to it (type gate, J1)."""
    ids = built["idmap"]
    assert ids[uri("srcA", "g1")] != ids[uri("extX", "e2")]


def test_deterministic_minting(built):
    """Unlinked records mint uuid5(NAMESPACE_URL, min component member)."""
    ids = built["idmap"]
    anc = uri("srcA", "anc1")
    assert ids[anc] == str(uuid.uuid5(uuid.NAMESPACE_URL, anc))


def test_merged_doc_rules(built):
    """A2 set-union by id, A3 name dedupe, A5 dimension dedupe on the
    Rembrandt component."""
    merged = built["merged"][PREV_YUID_P1]
    names = [n["content"] for n in merged["identified_by"] if n.get("type") == "Name"]
    # case/whitespace duplicate "REMBRANDT  van rijn" survives A3 only once
    lowered = [" ".join(n.lower().split()) for n in names]
    assert len(lowered) == len(set(lowered))
    assert "Rembrandt van Rijn" in names
    # dimension dup folded (A5)
    assert len(merged["dimension"]) == 1
    # equivalents unioned across all three sources (A2)
    eq_ids = {e["id"] for e in merged["equivalent"]}
    assert len(eq_ids) == len(merged["equivalent"])


def test_merge_copy_if_absent_and_order(built):
    """referred_to_by exists only on srcA/p1 and must survive; merge base
    is srcA (merge_order 0)."""
    merged = built["merged"][PREV_YUID_P1]
    assert merged["referred_to_by"][0]["content"] == "Dutch painter"
    assert merged["_label"] == "Rembrandt van Rijn"


# ------------------------------------------------------------- P5 vetoes
def _veto_from_ext(base_doc, cand_doc):
    """extY refuses to donate into Person bases (P5 should_merge_from)."""
    return base_doc.get("type") != "Person"


def test_merge_veto_changes_fold(spark):
    """P5: a should_merge_from veto on the candidate's source excludes its
    record from the fold — same input merges differently with hooks on."""
    from data_pipeline_spark.pipeline.merge_records import merge_by_yuid
    from data_pipeline_spark.registry import SourceRegistry

    rows = [
        ("y1", "srcA", "p1", json.dumps({
            "id": "y1", "type": "Person",
            "identified_by": [{"type": "Name", "content": "Base Name"}],
        })),
        ("y1", "extY", "f1", json.dumps({
            "id": "y1", "type": "Person",
            "identified_by": [{"type": "Name", "content": "Donated Name"}],
            "referred_to_by": [{"type": "LinguisticObject", "content": "ext statement"}],
        })),
    ]
    df = spark.createDataFrame(rows, "yuid string, source string, identifier string, data string")
    order = {"srcA": 0, "extY": 50}

    plain = json.loads(merge_by_yuid(df, order).collect()[0].data)
    names = [n["content"] for n in plain["identified_by"]]
    assert "Donated Name" in names and plain.get("referred_to_by")

    reg = SourceRegistry()
    reg.register("srcA", merge_order=0)
    reg.register("extY", merge_order=50, should_merge_from=_veto_from_ext)
    vetoed = json.loads(
        merge_by_yuid(df, order, vetoes=reg.merge_hooks_map()).collect()[0].data
    )
    names_v = [n["content"] for n in vetoed["identified_by"]]
    assert "Donated Name" not in names_v  # the veto excluded extY's record
    assert "referred_to_by" not in vetoed
    assert "Base Name" in names_v


def test_merge_veto_into_direction(spark):
    """P5: the BASE source's should_merge_into can refuse specific
    candidates (here: docs without a type) while accepting others."""
    from data_pipeline_spark.pipeline.merge_records import merge_by_yuid

    rows = [
        ("y2", "srcA", "a1", json.dumps({
            "id": "y2", "type": "Group",
            "identified_by": [{"type": "Name", "content": "Guild"}],
        })),
        ("y2", "extX", "x1", json.dumps({
            "identified_by": [{"type": "Name", "content": "Untyped Junk"}],
        })),
        ("y2", "extY", "f2", json.dumps({
            "id": "y2", "type": "Group",
            "identified_by": [{"type": "Name", "content": "Sint-Lucasgilde"}],
        })),
    ]
    df = spark.createDataFrame(rows, "yuid string, source string, identifier string, data string")
    vetoes = {"srcA": {"should_merge_into": lambda base, cand: cand.get("type") is not None}}
    out = json.loads(
        merge_by_yuid(df, {"srcA": 0}, vetoes=vetoes).collect()[0].data
    )
    names = [n["content"] for n in out["identified_by"]]
    assert "Untyped Junk" not in names
    assert "Sint-Lucasgilde" in names


def test_merge_veto_bound_method_hook():
    """P5 hooks registered as BOUND METHODS (the reference registers mapper
    instance methods, e.g. yale/ycba/mapper.py:14) must not crash the arity
    cache: a bound method's __dict__ reads through to __func__ but setattr
    on it raises AttributeError — _consent must skip caching, not die."""
    from data_pipeline_spark.pipeline.merge_records import _consent

    class Mapper:
        def should_merge_from(self, base_doc, cand_doc):
            return base_doc.get("type") != "Person"

        def should_merge_into4(self, base_doc, cand_doc, base_src, cand_src):
            return cand_src != "banned"

    m = Mapper()
    hooks = {"should_merge_from": m.should_merge_from,
             "should_merge_into": m.should_merge_into4}
    # 2-arg bound method: called repeatedly (cache miss each time) without error
    for _ in range(3):
        assert _consent(hooks, "should_merge_from", {"type": "Group"}, {})
        assert not _consent(hooks, "should_merge_from", {"type": "Person"}, {})
    # 4-arg bound method: source-dependent veto path also survives
    assert not _consent(hooks, "should_merge_into", {}, {}, "a", "banned")
    assert _consent(hooks, "should_merge_into", {}, {}, "a", "ok")
    # plain functions still get the cache attribute
    def f(base_doc, cand_doc):
        return True
    assert _consent({"should_merge_from": f}, "should_merge_from", {}, {})
    assert f._p5_arity == 2


def test_self_reference_removed(built):
    """pl1's self part_of is dropped (P8), the real parent kept."""
    ids = built["idmap"]
    pl1 = built["merged"][ids[uri("srcA", "pl1")]]
    part_ids = [e["id"] for e in pl1.get("part_of", [])]
    assert ids[uri("srcA", "pl1")] not in part_ids
    assert ids[uri("srcA", "pl2")] in part_ids


def test_reidentified_rewrites_refs(built):
    """Every known URI inside p1's doc is rewritten to a yuid (J8)."""
    data = built["reidentified"][("srcA", "p1")]
    assert uri("extX", "e1") not in data
    doc = json.loads(data)
    assert doc["id"] == PREV_YUID_P1
    assert doc["equivalent"][0]["id"] == PREV_YUID_P1  # e1 is co-referent


def test_edges_extraction(built):
    """X1: rdf:type for every merged entity; part_of edges between yuids."""
    ids = built["idmap"]
    triples = set(built["graph_edges"])
    assert (PREV_YUID_P1, "rdf:type", "Person") in triples
    assert (ids[uri("srcA", "pl1")], "part_of", ids[uri("srcA", "pl2")]) in triples
    # broader edge from the Type hierarchy
    assert (ids[uri("srcA", "t1")], "broader", ids[uri("srcA", "t2")]) in triples


def test_facets(built):
    f = built["facets"][PREV_YUID_P1]
    assert f["dataType"] == "Person"
    assert f["hasName"] is True
    assert f["nStatements"] == 1


def test_implausible_lifespan_edge_veto(spark, built):
    """e6 (190y lifespan) must not gain any equivalence edges (P4/F5)."""
    bad = uri("extX", "e6")
    edf = built["edges_df"]
    n = edf.filter((F.col("src_uri") == bad) | (F.col("dst_uri") == bad)).count()
    assert n == 0


def test_any_edges_and_texts_and_word_query(spark, built):
    import json as _json

    from data_pipeline_spark.pipeline.edges import (
        any_edges,
        extract_texts,
        word_query,
    )
    from data_pipeline_spark.pipeline.fixtures import PREV_YUID_P1

    edges = spark.createDataFrame(
        [(s, p, o) for s, p, o in built["graph_edges"]],
        ["subject", "predicate", "object"],
    )
    anys = any_edges(edges)
    assert {r.predicate for r in anys.collect()} == {"any"}
    assert anys.count() <= edges.count()

    merged = spark.createDataFrame(
        [(y, "Person", _json.dumps(d)) for y, d in built["merged"].items()],
        "yuid string, rectype string, data string",
    )
    texts = extract_texts(merged)
    fields = {r.field for r in texts.collect()}
    assert fields == {"name", "statement"}
    hits = {r.yuid for r in word_query(texts, "painter").collect()}
    assert hits == {PREV_YUID_P1}  # "Dutch painter" statement
    hits = {r.yuid for r in word_query(texts, "REMBRANDT", field="name").collect()}
    assert PREV_YUID_P1 in hits


def test_closure_long_chain_converges(spark):
    """A 120-node chain closes into one component under a max_iter far
    below its length — plain min-label propagation needs one round per
    hop and would leave the chain fragmented (long ids, default route)."""
    from data_pipeline_spark.pipeline.closure import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(120)], ["src", "dst"])
    comps = connected_components(edges, max_iter=15)
    assert {r.component for r in comps.collect()} == {0}
    assert comps.count() == 121


def test_empty_index_elision_is_identity(spark):
    """r15 opt regression net: reconcile's provably-empty-index stage
    elision (guide §2.4) must be pure plan surgery — identical edges to
    the full plan, and must NEVER fire on an index whose emptiness is
    not provable at plan time."""
    from data_pipeline_spark.catalog import empty_relation
    from data_pipeline_spark.pipeline.envelope import with_doc
    from data_pipeline_spark.pipeline.reconcile import (
        _statically_empty,
        reconcile,
    )

    name_sch = "source string, name_clean string, target_identifier string, rectype string"
    uri_sch = "source string, ext_uri string, target_identifier string, rectype string"
    pair_sch = "uri_a string, uri_b string"

    # provability contract: only the optimizer-foldable literal counts
    assert _statically_empty(empty_relation(spark, name_sch))
    # a plain empty createDataFrame plans as LogicalRDD — NOT provable,
    # so the conservative answer keeps the full join plan
    assert not _statically_empty(spark.createDataFrame([], name_sch))
    # a filtered-to-empty real relation is not provable either
    assert not _statically_empty(
        spark.createDataFrame([("s", "n", "t", "r")], name_sch).filter(
            F.col("source") == "nope"
        )
    )
    # a NON-empty literal must never be treated as empty
    assert not _statically_empty(
        spark.createDataFrame([("s", "n", "t", "r")], name_sch)
    )

    t = fixture_tables(spark)
    docs = with_doc(t["records"])

    # elided (provably-empty) vs full-plan (opaque-empty) runs must
    # produce the identical edge relation
    provable = {
        "name_index": empty_relation(spark, name_sch),
        "uri_index": empty_relation(spark, uri_sch),
        "same_as": empty_relation(spark, pair_sch),
        "different_from": empty_relation(spark, pair_sch),
    }
    opaque = {
        "name_index": spark.createDataFrame([], name_sch),
        "uri_index": spark.createDataFrame([], uri_sch),
        "same_as": spark.createDataFrame([], pair_sch),
        "different_from": spark.createDataFrame([], pair_sch),
    }
    cols = ["src_uri", "dst_uri", "rectype", "provenance"]
    got_elided = sorted(map(tuple, reconcile(docs, provable).select(*cols).collect()))
    got_full = sorted(map(tuple, reconcile(docs, opaque).select(*cols).collect()))
    assert got_elided == got_full

    # with the REAL (non-empty) fixture indexes the elision must not
    # fire: the curated indexes contribute edges (sameAs bridges / uri
    # matches) beyond the record-asserted set, and the name join runs
    # (its p2<->e2 hit is then vetoed by different_from — FIXTURES.md)
    full_rows = sorted(
        map(tuple, reconcile(docs, t).select(*cols).collect())
    )
    assert set(full_rows) - set(got_full), "non-empty indexes must add edges"
    from data_pipeline_spark.pipeline.reconcile import _statically_empty as se

    assert not any(
        se(t[k]) for k in ("name_index", "uri_index", "same_as", "different_from")
    )


def test_run_build_tiers_read_only_checkpoints(spark, tmp_path):
    """One materialization rule: every tier run_build returns reads only
    checkpointed relations (LogicalRDD leaves) and never the input
    records, so a consumer of several tiers cannot re-run an upstream
    layer; materialize=False raises."""
    t = fixture_tables(spark)
    path = str(tmp_path / "records.parquet")
    t["records"].write.parquet(path)
    records = spark.read.parquet(path)
    indexes = {k: t[k] for k in ("name_index", "uri_index", "same_as", "different_from")}
    out = run_build(spark, records, indexes, idmap_prev=t["idmap_prev"])
    for name, df in out.items():
        analyzed = df._jdf.queryExecution().analyzed()
        leaves = analyzed.collectLeaves()
        kinds = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert kinds == {"LogicalRDD"}, (name, kinds)
        assert "records.parquet" not in analyzed.toString(), name
    with pytest.raises(ValueError):
        run_build(spark, records, indexes, materialize=False)
