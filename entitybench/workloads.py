"""The two workloads: what set-up prepares, what one timed operation is,
and the correctness checks that run after the timed region.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned its result.  Only generated inputs reach
the engine, through its public functions.
"""

from __future__ import annotations

import glob
import gzip
import os
import random
import time
import duckdb

from . import gen

MERGE_ORDER = {"srcA": 0, "srcB": 1, "srcC": 2, "srcD": 3, "srcH": 4, "srcN": 5}
BUILD_TIERS = ("merged", "idmap", "edges", "facets", "names")
CRAWL_TIERS = (("merged", "merged_full"), ("idmap", "idmap_full"), ("records", "records"))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


class Checks:
    """Counts correctness checks; a failed one keeps its message."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


class Workload:
    """One workload: ``setup`` prepares inputs and engine state, ``op`` runs
    one timed operation of two phases and returns each phase's wall time,
    and ``check`` validates the outputs after the timed region."""

    phases: tuple[str, str]
    # set-up repetitions per run; setup_s is their median
    setup_reps = 3

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def op(self, i: int) -> dict[str, float]:
        raise NotImplementedError

    def check(self, checks: Checks) -> None:
        raise NotImplementedError


def read_indexes(spark, paths: dict[str, str]) -> dict:
    return {k: spark.read.parquet(paths[k]) for k in gen.INDEX_SCHEMAS}


# ------------------------------------------------------------ build_and_crawl

class BuildAndCrawl(Workload):
    """One operation is a CLI-shaped full build followed by one change-feed
    crawl on top of what the build committed.

    build: run_build(materialize=True), five tier commits with
    write_parquet_atomic, then export_ntriples.
    crawl: incremental_build over the committed merged and idmap tiers with
    a seeded batch of changes; commits merged_full, idmap_full and records
    the way the CLI's incremental command does."""

    phases = ("build", "crawl")
    setup_reps = 5
    n_pairs = 1000
    batch = 200

    def setup(self, rep: int) -> None:
        self.corpus = gen.make_corpus(self.seed, self.n_pairs)
        self.inputs = gen.write_corpus(self.corpus, os.path.join(self.work, f"in{rep}"))
        # the engine loads the inputs once, as a build starts by doing; work
        # a later change adds to input loading shows in setup_s
        self.spark.read.parquet(self.inputs["records"]).count()
        for df in read_indexes(self.spark, self.inputs).values():
            df.count()
        self.last: tuple | None = None

    def feed(self, i: int) -> tuple[str, str]:
        """(path, watermark) of op i's change batch, written untimed."""
        rows, watermark = gen.make_feed(self.seed * 1000 + i, self.corpus, self.batch)
        path = os.path.join(self.work, "feed", f"batch{i}.parquet")
        gen.write_table(rows, path, gen.FEED_SCHEMA)
        return path, watermark.isoformat(sep=" ")

    def build(self, out: str) -> None:
        from data_pipeline_spark.pipeline.build import run_build
        from data_pipeline_spark.sinks.exports import export_ntriples, write_parquet_atomic

        spark = self.spark
        tiers = run_build(spark, spark.read.parquet(self.inputs["records"]),
                          read_indexes(spark, self.inputs), merge_order=MERGE_ORDER,
                          materialize=True)
        for name in BUILD_TIERS:
            write_parquet_atomic(tiers[name], os.path.join(out, f"{name}.parquet"))
        export_ntriples(tiers["edges"], os.path.join(out, "nt"))

    def crawl(self, prior: str, feed_path: str, watermark: str, dst: str) -> None:
        from data_pipeline_spark.pipeline.incremental import incremental_build
        from data_pipeline_spark.sinks.exports import write_parquet_atomic

        spark = self.spark
        inc = incremental_build(
            spark,
            spark.read.parquet(self.inputs["records"]),
            spark.read.parquet(feed_path),
            read_indexes(spark, self.inputs),
            idmap_prev=spark.read.parquet(os.path.join(prior, "idmap.parquet")),
            prev_merged=spark.read.parquet(os.path.join(prior, "merged.parquet")),
            merge_order=MERGE_ORDER,
            last_harvest=watermark,
        )
        for name, key in CRAWL_TIERS:
            write_parquet_atomic(inc[key], os.path.join(dst, f"{name}.parquet"))

    def op(self, i: int) -> dict[str, float]:
        out, dst = os.path.join(self.work, "build"), os.path.join(self.work, "crawl")
        feed_path, watermark = self.feed(i)
        t0 = time.perf_counter()
        self.build(out)
        t1 = time.perf_counter()
        self.crawl(out, feed_path, watermark, dst)
        t2 = time.perf_counter()
        self.last = (out, dst)
        return {"build": t1 - t0, "crawl": t2 - t1}

    def check(self, checks: Checks) -> None:
        out, dst = self.last
        check_build(out, self.corpus.truth, checks)
        check_crawl(self.spark, self.inputs, out, dst, checks)


def check_build(out: str, truth: gen.Truth, checks: Checks) -> None:
    """Planted invariants of one committed build plus the N-Triples count."""
    con = duckdb.connect()
    yuid = dict(con.execute(f"SELECT qua_uri, yuid FROM '{out}/idmap.parquet/*.parquet'").fetchall())
    n_merged = con.execute(f"SELECT count(*), count(DISTINCT yuid) FROM '{out}/merged.parquet/*.parquet'").fetchone()
    checks.expect(n_merged[0] == n_merged[1] == len(truth.components),
                  f"merged rows {n_merged} != planted components {len(truth.components)}")
    bad = [c for c in truth.components if {yuid.get(u) for u in c} != {yuid.get(c[0])} or c[0] not in yuid]
    checks.expect(not bad, f"{len(bad)} planted components not merged into one entity, e.g. {bad[:1]}")
    distinct = {yuid.get(c[0]) for c in truth.components}
    checks.expect(len(distinct) == len(truth.components), "two planted components share a yuid")
    split = [p for p in truth.split if yuid.get(p[0]) == yuid.get(p[1])]
    checks.expect(not split, f"{len(split)} vetoed pairs merged, e.g. {split[:1]}")
    star = {yuid.get(u) for u in truth.hot_star}
    checks.expect(len(star) == 1, f"hot-name star split over {len(star)} yuids")
    n_edges = con.execute(f"SELECT count(*) FROM '{out}/edges.parquet/*.parquet'").fetchone()[0]
    nt_lines, type_lines = 0, 0
    for p in glob.glob(os.path.join(out, "nt", "part-*")):
        with gzip.open(p, "rt") as f:
            for line in f:
                nt_lines += 1
                type_lines += "/ns/rdf:type> " in line
    checks.expect(nt_lines == n_edges and nt_lines > 0,
                  f"N-Triples lines {nt_lines} != edges rows {n_edges}")
    checks.expect(type_lines == n_merged[0],
                  f"rdf:type lines {type_lines} != merged entities {n_merged[0]}")


def check_crawl(spark, inputs: dict, prior: str, dst: str, checks: Checks) -> None:
    """The incremental contract stated in pipeline/incremental.py: the
    spliced merged tier equals a full rebuild of the crawl's committed
    records from the same prior idmap, row for row."""
    from data_pipeline_spark.pipeline.build import run_build

    full = run_build(spark, spark.read.parquet(os.path.join(dst, "records.parquet")),
                     read_indexes(spark, inputs),
                     idmap_prev=spark.read.parquet(os.path.join(prior, "idmap.parquet")),
                     merge_order=MERGE_ORDER)
    want = {r.yuid: r.data for r in full["merged"].collect()}
    got = merged_rows(dst)
    checks.expect(len(got) == len(want), f"spliced merged has {len(got)} rows, rebuild {len(want)}")
    diff = [y for y in want if got.get(y) != want[y]]
    checks.expect(not diff, f"{len(diff)} entities differ from the full rebuild")


def merged_rows(out: str) -> dict[str, str]:
    con = duckdb.connect()
    return dict(con.execute(f"SELECT yuid, data FROM '{out}/merged.parquet/*.parquet'").fetchall())


# ------------------------------------------------------------ search_and_curation

class Collected:
    """A collected result in the shape ``oracle.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows


def _word_sql(col: str, word: str) -> str:
    return (f"len(list_filter(regexp_split_to_array(lower({col}), '\\W+'), "
            f"t -> t = '{word}')) > 0")


def search_templates() -> dict:
    """name -> (make(rng) -> (query, oracle SQL)).  ``query`` is a DSL
    string, a JSON clause dict, or ("similar", entity id).  Together the
    templates cover every AST shape the parser emits; the parameters move
    selectivity over orders of magnitude."""
    adj, noun = gen.PART_WORDS
    nation = lambda r: f"NATION_{r.randrange(25)}"  # noqa: E731
    bal = lambda r: r.choice([9990, 9900, 9500, 5000, 0])  # noqa: E731
    price = lambda r: r.choice([495000, 480000, 400000, 300000])  # noqa: E731

    def leaf(r):
        b = bal(r)
        return (f"AND(type=customer, number>{b})",
                f"SELECT 'customer:' || c_custkey AS id FROM customer WHERE c_acctbal > {b}")

    def boolean_or(r):
        b, k = bal(r), r.randrange(500)
        return (f'AND(type=customer, OR(number>{b}, name="Customer#{k:09d}"))',
                f"SELECT 'customer:' || c_custkey AS id FROM customer "
                f"WHERE c_acctbal > {b} OR c_name = 'Customer#{k:09d}'")

    def boolean_not(r):
        p, reg = price(r), r.choice(gen.REGIONS)
        return (f'AND(type=order, number>{p}, NOT(placed_by(in_nation(in_region(name="{reg}")))))',
                f"""SELECT 'order:' || o_orderkey AS id FROM orders
                WHERE o_totalprice > {p} AND o_orderkey NOT IN (
                  SELECT o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey WHERE r_name = '{reg}')""")

    def forward_hop(r):
        n = nation(r)
        return (f'AND(type=customer, in_nation(name="{n}"))',
                f"SELECT 'customer:' || c_custkey AS id FROM customer "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE n_name = '{n}'")

    def inverse_hop(r):
        b = bal(r)
        return (f"AND(type=nation, ^in_nation(AND(type=customer, number>{b})))",
                f"SELECT DISTINCT 'nation:' || c_nationkey AS id FROM customer WHERE c_acctbal > {b}")

    def two_hops(r):
        n = nation(r)
        return (f'AND(type=part, ^contains(AND(type=order, placed_by(in_nation(name="{n}")))))',
                f"""SELECT DISTINCT 'part:' || l_partkey AS id FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey WHERE n_name = '{n}'""")

    def word(r):
        w = r.choice(noun + adj)
        return (f'AND(type=part, name~"{w}")',
                f"SELECT 'part:' || p_partkey AS id FROM part WHERE {_word_sql('p_name', w)}")

    def near_andnot_boost(r):
        a, n1, n2 = r.choice(adj), r.choice(noun), r.choice(noun)
        return (f"BOOST(ANDNOT(AND(type=part, name~{a}), NEAR(name~{a}, name~{n1}, 1)),"
                f" AND(type=part, name~{n2}))",
                f"""WITH toks AS (SELECT p_partkey, regexp_split_to_array(lower(p_name), '\\W+') AS t FROM part),
                pos AS (SELECT p_partkey,
                  list_filter(list_transform(range(1, len(t) + 1), i -> CASE WHEN t[i] = '{a}' THEN i ELSE NULL END), x -> x IS NOT NULL) AS pa,
                  list_filter(list_transform(range(1, len(t) + 1), i -> CASE WHEN t[i] = '{n1}' THEN i ELSE NULL END), x -> x IS NOT NULL) AS pb,
                  list_contains(t, '{a}') AS has_a, list_contains(t, '{n2}') AS has_boost FROM toks)
                SELECT 'part:' || p_partkey AS id, CASE WHEN has_boost THEN 2 ELSE 1 END AS score FROM pos
                WHERE has_a AND NOT len(list_filter(pa, x -> len(list_filter(pb, y -> abs(x - y) <= 1)) > 0)) > 0""")

    def boost(r):
        n, b = nation(r), bal(r)
        return (f'BOOST(AND(type=customer, in_nation(name="{n}")), AND(type=customer, number>{b}))',
                f"SELECT 'customer:' || c_custkey AS id, CASE WHEN c_acctbal > {b} THEN 2 ELSE 1 END AS score "
                f"FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE n_name = '{n}'")

    def json_form(r):
        n = nation(r)
        return ({"AND": [{"type": "customer"}, {"in_nation": {"name": n}}]},
                f"SELECT 'customer:' || c_custkey AS id FROM customer "
                f"JOIN nation ON c_nationkey = n_nationkey WHERE n_name = '{n}'")

    def similar(r):
        k, w = r.randrange(500), r.choice([10.0, 100.0])
        return (("similar", f"customer:{k}", w),
                f"""WITH tgt AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer WHERE c_custkey = {k})
                SELECT DISTINCT 'customer:' || c.c_custkey AS id FROM customer c, tgt
                WHERE c.c_custkey <> tgt.c_custkey AND (c.c_nationkey = tgt.c_nationkey
                  OR abs(c.c_acctbal - tgt.c_acctbal) <= {w})""")

    def serving_inverse(r):
        w, p = r.choice(noun), price(r)
        return (f'AND(type=part, name~"{w}", ^contains(AND(type=order, number>{p})))',
                f"""SELECT DISTINCT 'part:' || p_partkey AS id FROM part
                JOIN lineitem ON l_partkey = p_partkey JOIN orders ON o_orderkey = l_orderkey
                WHERE o_totalprice > {p} AND {_word_sql('p_name', w)}""")

    def any_date_text(r):
        y, m, w = r.randrange(1995, 2001), r.randrange(1, 13), r.choice(noun)
        lo, hi = f"{y}-{m:02d}-01", f"{y}-{m:02d}-28"
        return (f'AND(type=order, date>="{lo}", date<="{hi}", any(anytext~{w}))',
                f"""SELECT DISTINCT 'order:' || o_orderkey AS id FROM orders
                JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey
                WHERE CAST(o_orderdate AS DATE) >= DATE '{lo}' AND CAST(o_orderdate AS DATE) <= DATE '{hi}'
                  AND {_word_sql("lower(p_name) || ' part'", w)}""")

    return {f.__name__: f for f in (
        leaf, boolean_or, boolean_not, forward_hop, inverse_hop, two_hops, word,
        near_andnot_boost, boost, json_form, similar, serving_inverse, any_date_text)}


CURATION = ("d01_dedup_exact", "d07_minhash_lsh_pairs", "d08_simhash_pairs",
            "d12_dedup_groups", "d13_corpus_clean", "d55_dsir_importance",
            "d56_lm_fluency_buckets", "v01_knn_bruteforce", "v09_ann_recall_eval")


class SearchAndCuration(Workload):
    """One operation is a round of DSL searches, one per template, followed
    by one curation pass.

    search: parse -> plan -> collect ids over the bucketed serving model
    that set-up materializes (serving_planner) from seeded sf tables.
    curation: the declared dedup, quality and vector queries over the same
    tables' documents and embeddings; the pass starts by dropping the
    memoized dedup tiers (queries.dedup.clear_tier_cache)."""

    phases = ("search", "curation")
    n_customers = 500
    n_docs = 300

    def setup(self, rep: int) -> None:
        from data_pipeline_spark.plans.model import serving_planner

        self.sf = os.path.join(self.work, f"sf{rep}")
        gen.write_sf_tables(gen.make_sf_tables(self.seed, self.n_customers, self.n_docs), self.sf)
        self.planner = serving_planner(self.spark, self.sf)
        self.templates = search_templates()
        self.results: dict[tuple, tuple] = {}
        self.search_s: list[float] = []

    def searches(self, i: int) -> list[tuple]:
        """Op i's round: (template, query, oracle SQL) per template, in a
        seeded order with seeded parameters."""
        r = random.Random(self.seed * 1000 + i)
        names = sorted(self.templates)
        return [(n, *self.templates[n](r)) for n in r.sample(names, len(names))]

    def plan(self, query):
        """The search's DataFrame: JSON or string parse, then the planner."""
        from data_pipeline_spark.plans.parser import Bool, parse, parse_json

        if isinstance(query, tuple):
            return self.planner.similar(query[1], number_window=query[2])
        ast = parse_json(query) if isinstance(query, dict) else parse(query)
        if isinstance(ast, Bool) and ast.op == "BOOST":
            return self.planner.search_scored(ast)
        return self.planner.plan(ast)

    def op(self, i: int) -> dict[str, float]:
        from data_pipeline_spark.queries import QUERIES
        from data_pipeline_spark.queries.dedup import clear_tier_cache

        self.results.clear()
        t0 = time.perf_counter()
        for name, query, sql in self.searches(i):
            t = time.perf_counter()
            df = self.plan(query)
            self.results[("search", name)] = (sql, df.columns, df.collect())
            self.search_s.append(time.perf_counter() - t)
        t1 = time.perf_counter()
        clear_tier_cache()
        for name in CURATION:
            df = QUERIES[name].spark_fn(self.spark, self.sf)
            self.results[("curation", name)] = (QUERIES[name].oracle, df.columns, df.collect())
        t2 = time.perf_counter()
        return {"search": t1 - t0, "curation": t2 - t1}

    def check(self, checks: Checks) -> None:
        """Every result of the last operation against DuckDB: searches as
        id sets, curation queries in their declared total order."""
        from data_pipeline_spark.oracle import compare, duckdb_con

        con = duckdb_con(self.sf)
        for (kind, name), (sql, cols, rows) in sorted(self.results.items()):
            ok, msg = compare(Collected(cols, rows), con, sql, order_sensitive=kind == "curation")
            checks.expect(ok and (kind == "search" or len(rows) > 0),
                          f"{kind} {name}: {msg} ({len(rows)} rows)")


WORKLOADS = {
    "build_and_crawl": BuildAndCrawl,
    "search_and_curation": SearchAndCuration,
}
