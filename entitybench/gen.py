"""Seeded input generators: the entity corpus and its curated indexes, an
ActivityStreams-shaped change feed, and an sf-shaped table set for the
search model and the curation queries.

Everything is a pure function of the seed and the size arguments, and is
written as parquet with pyarrow, so generating inputs launches no Spark job.
The corpus plants known shapes and returns them as ``Truth`` so the
benchmark can check the build's output against them.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the engine's local URI base: reconcile resolves index targets to
# f"{URI}/{source}/{identifier}", so planted records live under it
URI = "https://fixture.test"
AUTHORITY = "authority.test"
HOT_NAME = "Hot Hub Name"
RECORD_TIME = "2026-01-01T00:00:00"
WATERMARK0 = datetime(2026, 2, 1)

RECORD_SCHEMA = pa.schema(
    [
        ("source", pa.string()),
        ("identifier", pa.string()),
        ("rectype", pa.string()),
        ("record_time", pa.string()),
        ("change", pa.string()),
        ("data", pa.string()),
    ]
)
FEED_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("end_time", pa.timestamp("us")),
        ("change", pa.string()),
        ("object_uri", pa.string()),
        ("payload", pa.string()),
    ]
)
INDEX_SCHEMAS = {
    "name_index": pa.schema(
        [("source", pa.string()), ("name_clean", pa.string()),
         ("target_identifier", pa.string()), ("rectype", pa.string())]
    ),
    "uri_index": pa.schema(
        [("source", pa.string()), ("ext_uri", pa.string()),
         ("target_identifier", pa.string()), ("rectype", pa.string())]
    ),
    "same_as": pa.schema([("uri_a", pa.string()), ("uri_b", pa.string())]),
    "different_from": pa.schema([("uri_a", pa.string()), ("uri_b", pa.string())]),
}


def uri(source: str, ident: str) -> str:
    return f"{URI}/{source}/{ident}"


@dataclass
class Truth:
    """What the corpus plants, in record URIs.

    ``components`` are the record sets the build must merge into one entity
    each (singletons included); ``split`` are record pairs a veto must keep
    apart; ``protected`` are records the change feeds never touch."""

    components: list[list[str]] = field(default_factory=list)
    split: list[tuple[str, str]] = field(default_factory=list)
    hot_star: list[str] = field(default_factory=list)
    protected: set[str] = field(default_factory=set)


@dataclass
class Corpus:
    records: list[dict]
    indexes: dict[str, list[dict]]
    truth: Truth


def _doc(source, ident, label, names=(), equivalents=(), born=None, group=None,
         statement=None) -> dict:
    doc = {"id": uri(source, ident), "type": "Person", "_label": label}
    if names:
        doc["identified_by"] = [
            {
                "type": "Name",
                "content": n,
                "classified_as": [
                    {"id": f"{URI}/vocab/{'primaryName' if i == 0 else 'alternateName'}"}
                ],
            }
            for i, n in enumerate(names)
        ]
    if equivalents:
        doc["equivalent"] = [{"id": e, "type": "Person"} for e in equivalents]
    if born is not None:
        doc["born"] = {
            "type": "Birth",
            "timespan": {
                "begin_of_the_begin": f"{born:04d}-03-01T00:00:00",
                "end_of_the_end": f"{born:04d}-03-01T23:59:59",
            },
        }
    if group is not None:
        doc["member_of"] = [{"id": f"{URI}/group/{group}", "type": "Group"}]
    if statement is not None:
        doc["referred_to_by"] = [{"type": "Statement", "content": statement}]
    return doc


def record_row(doc: dict) -> dict:
    source, ident = doc["id"][len(URI) + 1:].split("/", 1)
    return {
        "source": source,
        "identifier": ident,
        "rectype": doc["type"],
        "record_time": RECORD_TIME,
        "change": "create",
        "data": json.dumps(doc, sort_keys=True),
    }


def make_corpus(seed: int, n_pairs: int) -> Corpus:
    """A b02-shaped pair corpus with every build layer's edge family planted.

    Volume is ``n_pairs`` customer-like srcA->srcB pairs; the other shapes
    scale with it: singletons, chains of 8-10 records and one of ~30, one hot-name
    star resolved through the name index, http/https+www variant links
    resolved through the uri index, sameAs bridges, differentFrom vetoes and
    birth-date pairs on both sides of the P4 ten-year window."""
    rng = random.Random(seed)
    docs: list[dict] = []
    idx: dict[str, list[dict]] = {k: [] for k in INDEX_SCHEMAS}
    truth = Truth()
    k = max(1, n_pairs // 100)
    nations = 25

    def person(i: int) -> str:
        return f"Customer#{rng.randrange(10**9):09d}-{i}"

    # uniform pairs: srcA asserts srcB's twin (J2 record-asserted edges)
    for i in range(n_pairs):
        name = person(i)
        nk = rng.randrange(nations)
        docs.append(_doc("srcA", f"p{i}", name, names=[name, name + " ALT"],
                         equivalents=[uri("srcB", f"p{i}")], group=nk,
                         statement=f"Resides in nation {nk}"))
        docs.append(_doc("srcB", f"p{i}", name + " (b)", group=nk))
        truth.components.append([uri("srcA", f"p{i}"), uri("srcB", f"p{i}")])

    # singletons
    for i in range(5 * k):
        name = person(n_pairs + i)
        docs.append(_doc("srcC", f"s{i}", name, names=[name]))
        truth.components.append([uri("srcC", f"s{i}")])

    # chains: each record asserts the next (closure diameter ~ length)
    lengths = [rng.randint(8, 10) for _ in range(k)] + [rng.randint(28, 32)]
    for c, n in enumerate(lengths):
        members = [uri("srcA" if j % 2 == 0 else "srcB", f"ch{c}_{j}") for j in range(n)]
        for j in range(n):
            src = "srcA" if j % 2 == 0 else "srcB"
            nxt = [members[j + 1]] if j + 1 < n else []
            docs.append(_doc(src, f"ch{c}_{j}", f"Chain {c} link {j}", equivalents=nxt))
        truth.components.append(members)
        # a feed item touching a chain would pull it into the crawl's slice
        # and decide the closure route there by chance
        truth.protected.update(members)

    # hot-name star: leaves share one name that the name index resolves
    # to a single hub record (J1 through a non-empty index)
    hub = uri("srcH", "hub")
    docs.append(_doc("srcH", "hub", HOT_NAME, names=[HOT_NAME]))
    idx["name_index"].append({"source": "srcH", "name_clean": HOT_NAME.lower(),
                              "target_identifier": "hub", "rectype": "Person"})
    star = [hub]
    for i in range(3 * k + 20):
        src = "srcA" if i % 2 == 0 else "srcB"
        docs.append(_doc(src, f"h{i}", f"{HOT_NAME} {i}", names=[HOT_NAME]))
        star.append(uri(src, f"h{i}"))
    truth.components.append(star)
    truth.hot_star = star
    truth.protected.add(hub)

    # name-index pairs: J1 volume beyond the star
    for i in range(2 * k):
        name = f"Indexed Person {seed}-{i}"
        docs.append(_doc("srcC", f"n{i}", name, names=[name]))
        docs.append(_doc("srcD", f"n{i}", f"Authority entry {i}"))
        idx["name_index"].append({"source": "srcD", "name_clean": name.lower(),
                                  "target_identifier": f"n{i}", "rectype": "Person"})
        truth.components.append([uri("srcC", f"n{i}"), uri("srcD", f"n{i}")])

    # http/https + www variants: the record asserts the authority URI in
    # one spelling, the uri index holds another; J2 normalizes both
    for i in range(2 * k):
        asserted = f"http://www.{AUTHORITY}/ext/{i}"
        indexed = f"https://{AUTHORITY}/ext/{i}/"
        docs.append(_doc("srcA", f"u{i}", f"Variant {i}", equivalents=[asserted]))
        docs.append(_doc("srcB", f"u{i}", f"Variant {i} (b)"))
        idx["uri_index"].append({"source": "srcB", "ext_uri": indexed,
                                 "target_identifier": f"u{i}", "rectype": "Person"})
        truth.components.append([uri("srcA", f"u{i}"), uri("srcB", f"u{i}")])

    # sameAs bridges (J4) between otherwise unlinked records
    for i in range(k):
        a, b = uri("srcC", f"sa{i}"), uri("srcD", f"sa{i}")
        docs.append(_doc("srcC", f"sa{i}", f"Bridged {i}"))
        docs.append(_doc("srcD", f"sa{i}", f"Bridged {i} (d)"))
        idx["same_as"].append({"uri_a": a, "uri_b": b})
        truth.components.append([a, b])
        truth.protected.update((a, b))

    # differentFrom vetoes (J3): an asserted pair that must stay split
    for i in range(k):
        a, b = uri("srcA", f"df{i}"), uri("srcB", f"df{i}")
        docs.append(_doc("srcA", f"df{i}", f"Vetoed {i}", equivalents=[b]))
        docs.append(_doc("srcB", f"df{i}", f"Vetoed {i} (b)"))
        # the index lists the pair in the order opposite to the asserted
        # edge: the veto must apply in both directions
        idx["different_from"].append({"uri_a": b, "uri_b": a})
        truth.components += [[a], [b]]
        truth.split.append((a, b))
        truth.protected.update((a, b))

    # birth dates (P4): asserted pairs within and beyond ten years
    for i in range(2 * k):
        a, b = uri("srcA", f"dt{i}"), uri("srcB", f"dt{i}")
        year = rng.randint(1700, 1900)
        far = i % 2 == 1
        docs.append(_doc("srcA", f"dt{i}", f"Dated {i}", equivalents=[b], born=year))
        docs.append(_doc("srcB", f"dt{i}", f"Dated {i} (b)",
                         born=year + (40 if far else rng.randint(0, 9))))
        if far:
            truth.components += [[a], [b]]
            truth.split.append((a, b))
        else:
            truth.components.append([a, b])
        truth.protected.update((a, b))

    rng.shuffle(docs)
    return Corpus([record_row(d) for d in docs], idx, truth)


def make_feed(seed: int, corpus: Corpus, n: int) -> tuple[list[dict], datetime]:
    """One change-feed batch of ``n`` items over the corpus, and the
    watermark a crawl applying it passes as ``last_harvest``.

    Updates and deletes name live records outside ``truth.protected``.
    The batch mixes updates (a tenth drop their equivalents, splitting a
    component), creates (half assert an equivalent into an existing record,
    a tenth carry the hot name so the name index links them into the star),
    deletes, older duplicates of items already in the batch, and items at or
    before the watermark, which the crawl must ignore."""
    rng = random.Random(seed * 7919 + 1)
    docs = {json.loads(r["data"])["id"]: json.loads(r["data"]) for r in corpus.records}
    pool = sorted(u for u in docs if u not in corpus.truth.protected)
    rows: list[dict] = []

    def item(change, u, doc, t):
        rows.append({"seq": len(rows) + 1, "end_time": t, "change": change, "object_uri": u,
                     "payload": json.dumps(doc, sort_keys=True) if doc else None})

    def live_time():
        return WATERMARK0 + timedelta(seconds=rng.randint(1, 3600))

    n_upd, n_new, n_del, n_dup = int(n * 0.4), int(n * 0.25), int(n * 0.15), int(n * 0.1)
    n_old = n - n_upd - n_new - n_del - n_dup
    picked = rng.sample(pool, n_upd + n_del)
    touched = picked[:n_upd]
    for u in touched:
        doc = dict(docs[u], _label=docs[u]["_label"] + " (updated)")
        if rng.random() < 0.1:
            doc.pop("equivalent", None)
        item("update", u, doc, live_time())
        docs[u] = doc
    for j in range(n_new):
        u, r = uri("srcN", f"c{j}"), rng.random()
        if r < 0.5:
            doc = _doc("srcN", f"c{j}", f"Created {j}", equivalents=[rng.choice(pool)])
        elif r < 0.6:
            doc = _doc("srcN", f"c{j}", f"Created {j}", names=[HOT_NAME])
        else:
            doc = _doc("srcN", f"c{j}", f"Created {j}", names=[f"Created {j}"])
        item("create", u, doc, live_time())
        docs[u] = doc
        touched.append(u)
    for u in picked[n_upd:]:
        item("delete", u, None, live_time())
    # older than the item they duplicate: the latest end_time must win
    for u in rng.sample(touched, n_dup):
        item("update", u, dict(docs[u], _label="superseded duplicate"),
             WATERMARK0 + timedelta(microseconds=1))
    for u in rng.sample(pool, n_old):
        item("update", u, dict(docs[u], _label="stale item"),
             WATERMARK0 - timedelta(seconds=rng.randint(1, 86400)))
    return rows, WATERMARK0


# ---------------------------------------------------------------- sf tables

VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
PART_WORDS = (["red", "small", "hot", "old", "large", "blue", "cold", "new"],
              ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"])
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def make_sf_tables(seed: int, n_customers: int, n_docs: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables (the domains of the repo's sf testdata) plus
    documents with planted exact and near duplicates, and clustered
    embeddings.  Sizes scale with ``n_customers`` like the sf ladder
    (sf0.01 = 1500 customers)."""
    rng = np.random.default_rng(seed)
    n_supp, n_part, n_orders = max(10, n_customers // 15), n_customers * 4 // 3, n_customers * 10
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_customers),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj, noun = PART_WORDS
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    n_li = len(l_order)
    l_num = np.concatenate([np.arange(1, m + 1) for m in lines])
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array((np.repeat(odate, lines) + rng.integers(1, 120, n_li).astype("timedelta64[D]")).astype("datetime64[us]")),
    })
    n_events = n_customers * 6
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"))),
        "user_id": pa.array(rng.integers(0, max(1, n_customers // 10), n_events), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_events),
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_docs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.05:  # exact duplicate
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.12:  # near duplicate: one token swapped for 'dup'
            toks = texts[int(rng.integers(0, len(texts)))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0, 0.15, (k, dim))
    labels = rng.integers(0, k, n)
    vecs = (centers[labels] + rng.normal(0, 0.08, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# ---------------------------------------------------------------- writers

def write_table(rows_or_table, path: str, schema: pa.Schema | None = None) -> int:
    """Write one parquet table; returns its size in bytes."""
    table = rows_or_table if isinstance(rows_or_table, pa.Table) else pa.Table.from_pylist(rows_or_table, schema=schema)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_corpus(corpus: Corpus, d: str) -> dict[str, str]:
    """records + the four indexes under ``d``; returns name -> path."""
    paths = {"records": os.path.join(d, "records.parquet")}
    write_table(corpus.records, paths["records"], RECORD_SCHEMA)
    for name, schema in INDEX_SCHEMAS.items():
        paths[name] = os.path.join(d, f"{name}.parquet")
        write_table(corpus.indexes[name], paths[name], schema)
    return paths


def write_sf_tables(tables: dict[str, pa.Table], d: str) -> None:
    for name, table in tables.items():
        write_table(table, os.path.join(d, f"{name}.parquet"))
