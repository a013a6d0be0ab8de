"""Command-line surface: the reference drives its pipeline from shell
scripts (run-all.sh orchestrating per-phase processes); this engine's
equivalent is one CLI over the same operators the Python API exposes —
so a reference user can run builds, incremental crawls, declared
queries, DSL searches and exports without writing a driver script.

    python -m data_pipeline_spark build --records r.parquet --out /tmp/build
    python -m data_pipeline_spark incremental --records ... --changes ...
    python -m data_pipeline_spark query --name q01_pricing_summary --sf-dir ...
    python -m data_pipeline_spark search --sf-dir ... --query 'AND(type=customer, ...)'
    python -m data_pipeline_spark export --input merged.parquet --format jsonl --out d/
    python -m data_pipeline_spark stream-entity --feed f/ --state s/ --checkpoint c/
    python -m data_pipeline_spark list

Every subcommand reads/writes parquet (or JSONL feeds for streams) so
invocations chain through the filesystem exactly like the reference's
phase scripts chain through its caches.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

BUILD_TIERS = ("merged", "idmap", "edges", "facets", "names", "equiv_edges", "reidentified")


def _spark(args):
    from .session import get_spark

    return get_spark("cli", cpus=args.cpus)


def _load_indexes(spark, args):
    """The reconcile indexes named by --name-index etc.; an absent one is
    provably empty, so reconcile elides its joins."""
    from .catalog import empty_indexes

    out = empty_indexes(spark)
    for key in out:
        path = getattr(args, key, None)
        if path:
            out[key] = spark.read.parquet(path)
    return out


def _parse_merge_order(spec: str | None) -> dict[str, int] | None:
    """'srcA=0,srcB=1' -> {'srcA': 0, 'srcB': 1}"""
    if not spec:
        return None
    out = {}
    for part in spec.split(","):
        name, sep, prio = part.partition("=")
        try:
            if not sep or not name.strip():
                raise ValueError
            out[name.strip()] = int(prio)
        except ValueError:
            raise SystemExit(f"--merge-order entries must be src=int, got {part!r}")
    return out


def _await_drained(q, timeout: float | None) -> bool:
    """Wait for a stream to drain; stop it if the timeout fires first.

    ``awaitTermination(timeout)`` returns False with the query STILL
    RUNNING — compacting state (or just exiting, killing an in-flight
    batch) while micro-batches commit would race the stream.  Stop the
    query before returning so the caller's post-steps run against
    quiesced state, and report the undrained feed (callers exit nonzero).
    """
    if q.awaitTermination(timeout):
        return True
    q.stop()
    q.awaitTermination()
    print(
        "[cli] WARNING: timeout before the feed drained; stream stopped "
        "cleanly but unprocessed input remains (re-run to resume from the "
        "checkpoint)",
        file=sys.stderr,
    )
    return False


def _write_tiers(tiers: dict, out_dir: str, wanted: list[str]) -> None:
    from .sinks.exports import write_parquet_atomic

    for name in wanted:
        if name not in tiers:
            raise SystemExit(f"unknown tier {name!r}; have {sorted(tiers)}")
        path = os.path.join(out_dir, f"{name}.parquet")
        write_parquet_atomic(tiers[name], path)
        print(f"[cli] wrote {path}")


def cmd_build(args) -> int:
    from .pipeline.build import run_build

    merge_order = _parse_merge_order(args.merge_order)  # validate before Spark
    spark = _spark(args)
    records = spark.read.parquet(args.records)
    idmap_prev = spark.read.parquet(args.idmap_prev) if args.idmap_prev else None
    out = run_build(
        spark,
        records,
        _load_indexes(spark, args),
        idmap_prev=idmap_prev,
        merge_order=merge_order,
    )
    _write_tiers(out, args.out, args.tiers.split(","))
    return 0


def cmd_incremental(args) -> int:
    from .pipeline.incremental import incremental_build

    merge_order = _parse_merge_order(args.merge_order)  # validate before Spark
    spark = _spark(args)
    inc = incremental_build(
        spark,
        spark.read.parquet(args.records),
        spark.read.parquet(args.changes),
        _load_indexes(spark, args),
        idmap_prev=spark.read.parquet(args.idmap_prev),
        prev_merged=spark.read.parquet(args.prev_merged),
        merge_order=merge_order,
        last_harvest=args.last_harvest,
    )
    tiers = {"merged": inc["merged_full"], "idmap": inc["idmap_full"], "records": inc["records"]}
    _write_tiers(tiers, args.out, args.tiers.split(","))
    return 0


def _tables_dir(args) -> str:
    """The SF directory queries read — either --sf-dir as-is, or (with
    --table name=path overrides) a scratch directory of symlinks laying
    the overridden parquets over the base dir's tables.  This is how a
    CLI user points a declared query at their OWN corpus: every query
    reads <dir>/<table>.parquet, so a symlinked view IS the override."""
    overrides = dict(
        (spec.split("=", 1) + [None])[:2] for spec in (args.table or [])
    )
    if None in overrides.values():
        raise SystemExit("--table entries must be name=path")
    if not overrides:
        if not args.sf_dir:
            raise SystemExit("need --sf-dir and/or --table name=path")
        return args.sf_dir
    import tempfile

    from .catalog import TABLES

    d = tempfile.mkdtemp(prefix="dps_tables_")
    for name, path in overrides.items():
        os.symlink(os.path.abspath(path), os.path.join(d, f"{name}.parquet"))
    if args.sf_dir:
        for name in TABLES:
            if name not in overrides:
                src = os.path.join(args.sf_dir, f"{name}.parquet")
                if os.path.exists(src):
                    os.symlink(os.path.abspath(src), os.path.join(d, f"{name}.parquet"))
    return d


def cmd_query(args) -> int:
    from .queries import QUERIES

    if args.name not in QUERIES:
        raise SystemExit(
            f"unknown query {args.name!r} — `python -m data_pipeline_spark list`"
        )
    sf_dir = _tables_dir(args)
    spark = _spark(args)
    df = QUERIES[args.name].spark_fn(spark, sf_dir)
    if args.limit:
        df = df.limit(args.limit)
    if args.out:
        from .sinks.exports import write_parquet_atomic

        write_parquet_atomic(df, args.out)
        print(f"[cli] wrote {args.out}")
    else:
        for row in df.toJSON().toLocalIterator():
            print(row)
    return 0


def cmd_search(args) -> int:
    from .plans.model import build_planner, load_planner, materialize_model

    spark = _spark(args)
    if args.model:
        # persisted-model path: --materialize writes it once, later
        # searches load the parquet model instead of rebuilding the
        # entity/edge unions per invocation (the production serving form)
        if args.materialize:
            materialize_model(spark, args.sf_dir, args.model)
            print(f"[cli] materialized search model at {args.model}")
        planner = load_planner(spark, args.model)
    else:
        planner = build_planner(spark, args.sf_dir)
    q = json.loads(args.query) if args.json else args.query
    if args.json:
        from .plans.parser import parse_json

        q = parse_json(q)
    df = planner.search_scored(q) if args.scored else planner.plan(q)
    if args.limit:
        df = df.limit(args.limit)
    for row in df.toJSON().toLocalIterator():
        print(row)
    return 0


def cmd_export(args) -> int:
    from .sinks.exports import export_csv, export_jsonl, export_ntriples

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    if args.format == "jsonl":
        export_jsonl(df, args.out, shards=args.shards)
    elif args.format == "csv":
        export_csv(df, args.out)
    elif args.format == "nt":
        export_ntriples(df, args.out, shards=args.shards)
    print(f"[cli] exported {args.format} to {args.out}")
    return 0


def cmd_curate(args) -> int:
    """The end-to-end training-data build (d41: exact-substring removal
    -> tiered near-dup clean -> quality gate) over ANY documents
    parquet, survivors md5-routed into ordered training shards —
    the corpus-side twin of `build`."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from .queries.dedup import d41_training_data_build
    from .sinks.exports import write_training_shards

    sf_dir = _tables_dir(args)
    spark = _spark(args)
    surv = d41_training_data_build(spark, sf_dir)
    n = args.n_shards
    # deterministic, RNG-free shuffle (the d24 routing): md5 of content
    # + id picks the shard, per-shard rank over the same hash is the
    # permutation order a trainer consumes
    route = F.md5(F.concat(F.col("clean_text"), F.col("doc_id").cast("string")))
    routed = (
        surv.withColumn(
            "shard",
            (F.conv(F.substring(route, 1, 8), 16, 10).cast("bigint") % n).cast("int"),
        )
        .withColumn(
            "pos", F.row_number().over(W.partitionBy("shard").orderBy(route, "doc_id"))
        )
    )
    write_training_shards(routed, args.out)
    print(f"[cli] wrote {n}-shard training corpus to {args.out}")
    return 0


def cmd_stream_entity(args) -> int:
    from .streaming.entity_stream import (
        compact_entity_state,
        init_state,
        latest_state,
        stream_entity_builds,
    )

    spark = _spark(args)
    indexes = _load_indexes(spark, args)
    order = _parse_merge_order(args.merge_order)
    if args.init_records:
        init_state(
            spark, spark.read.parquet(args.init_records), indexes,
            args.state, merge_order=order, buckets=args.state_buckets,
        )
        print(f"[cli] initialized state at {args.state}")
    q = stream_entity_builds(
        spark, args.feed, args.state, args.checkpoint, indexes,
        merge_order=order, last_harvest=args.last_harvest,
        compact_every=args.compact_every,
    )
    drained = _await_drained(q, args.timeout)
    if not drained:
        # ADVICE r12: an export written from an undrained feed is a
        # PARTIAL fold — a downstream consumer keyed on the output dir's
        # existence would consume it as the complete merged view.  Skip
        # the post-steps; rc 3 already tells the operator to re-run.
        if args.compact or args.export_merged:
            print(
                "[cli] skipping --compact/--export-merged: the feed did "
                "not drain, so the export would be a partial view "
                "(re-run resumes from the checkpoint)",
                file=sys.stderr,
            )
        return 3
    if args.compact:
        removed = compact_entity_state(spark, args.state, args.checkpoint)
        print(f"[cli] compacted committed deltas into base: {removed}")
    if args.export_merged:
        merged = latest_state(spark, args.state, args.checkpoint)["merged"]
        merged.write.mode("overwrite").parquet(args.export_merged)
        print(f"[cli] exported folded merged tier to {args.export_merged}")
    return 0


def cmd_state_export(args) -> int:
    """Materialize a folded entity-state tier as plain parquet —
    optionally AS OF a past micro-batch (the free time-travel read the
    delta layout enables: state after batch K = base + committed deltas
    <= K).  History reaches back to the last compaction; compaction
    folds deltas into base and truncates it (the standard LSM trade,
    stated in compact_entity_state's contract)."""
    from .streaming.entity_stream import latest_state, read_state_at

    if args.as_of_batch is not None and args.as_of_batch < 0:
        raise SystemExit("[cli] --as-of-batch must be >= 0")
    spark = _spark(args)
    if args.as_of_batch is not None:
        # read_state_at's bound is exclusive (it answers "what did batch
        # N build against"); as-of K inclusive = the input of batch K+1
        tiers = read_state_at(spark, args.state, args.checkpoint,
                              args.as_of_batch + 1)
    else:
        tiers = latest_state(spark, args.state, args.checkpoint)
    tiers[args.tier].write.mode("overwrite").parquet(args.out)
    asof = "latest" if args.as_of_batch is None else f"batch {args.as_of_batch}"
    print(f"[cli] exported folded {args.tier} tier (as of {asof}) to {args.out}")
    return 0


def cmd_state_lookup(args) -> int:
    """Point lookup against the folded entity state: reads only the
    bucket files the keys hash to plus committed deltas (the reference's
    record-cache keyed get), never a corpus scan."""
    from .streaming.entity_stream import lookup_state

    spark = _spark(args)
    df = lookup_state(spark, args.state, args.checkpoint, args.key,
                      tier=args.tier)
    for row in df.toJSON().toLocalIterator():
        print(row)
    return 0


def cmd_state_stats(args) -> int:
    """Directory-walk state summary (no Spark session): layout, bucket
    spread, delta fan-in — the compaction-cadence feedback an operator
    reads before tuning --compact-every or --state-buckets."""
    import json as _json

    from .streaming.entity_stream import state_stats

    print(_json.dumps(state_stats(args.state, args.checkpoint), indent=2))
    return 0


def cmd_state_repair(args) -> int:
    """Finish pending compaction plans / sweep dead staging in an entity
    state dir or a shared index dir — the operator's recovery entry
    after a crashed maintenance process, without starting a stream (no
    Spark session: plan application is pure file renames).  Takes the
    exclusive maintenance lock, so it is safe to run against a live
    stream (it waits for the batch boundary)."""
    if args.state:
        from .streaming.entity_stream import repair_state_dir

        repair_state_dir(args.state)
        print(f"[cli] repaired entity state at {args.state}")
    if args.index:
        from .streaming.index_util import repair_index_dir

        repair_index_dir(args.index)
        print(f"[cli] repaired index at {args.index}")
    if not (args.state or args.index):
        raise SystemExit("state-repair: pass --state and/or --index")
    return 0


def cmd_state_rebucket(args) -> int:
    """Rewrite the state base under a new bucket count (the ~128 MB
    rule's maintenance op; state-stats' bucket_bytes_max is the
    trigger).  Deliberately O(corpus), atomic per tier, resumable."""
    from .streaming.entity_stream import rebucket_state

    spark = _spark(args)
    rebucket_state(spark, args.state, args.buckets)
    print(f"[cli] rebucketed state base to {args.buckets} buckets")
    return 0


def cmd_index_stats(args) -> int:
    """Directory-walk index summary (no Spark session): per-tier bucket
    spread (the index-rebucket trigger) and batch-partition fan-in (the
    --compact-every feedback)."""
    import json as _json

    from .streaming.index_util import index_stats

    print(_json.dumps(index_stats(args.index, args.checkpoint), indent=2))
    return 0


def cmd_index_rebucket(args) -> int:
    """Rewrite bucketed index base tiers under a new bucket count
    (index-stats' bucket_bytes_max is the trigger; ~128 MB/bucket-file
    at production scale).  O(tier) like init, staged + plan-applied so
    a crash leaves the old base or the new one, lock-safe against a
    live stream (waits for the batch boundary)."""
    from .streaming.index_util import rebucket_index

    spark = _spark(args)
    rebucket_index(spark, args.index, args.buckets, tiers=args.tier or None)
    print(f"[cli] rebucketed index base to {args.buckets} buckets")
    return 0


def cmd_stream_refresh(args) -> int:
    from .streaming.index_util import compact_index
    from .streaming.refresh_stream import index_corpus, stream_refresh

    spark = _spark(args)
    if args.init_corpus:
        index_corpus(spark.read.parquet(args.init_corpus), args.index,
                     buckets=args.index_buckets)
        print(f"[cli] indexed base corpus at {args.index}")
    q = stream_refresh(
        spark, args.feed, args.index, args.verdicts,
        checkpoint=args.checkpoint,
        compact_every=args.compact_every or None,
    )
    drained = _await_drained(q, args.timeout)
    if args.compact:
        folded = compact_index(spark, args.index, args.checkpoint)
        print(f"[cli] compacted committed folds: {folded}")
    return 0 if drained else 3


def cmd_lm_index(args) -> int:
    from .streaming.curation_stream import index_lm

    spark = _spark(args)
    ref = spark.read.parquet(args.ref_corpus).select("doc_id", "lang", "text")
    index_lm(spark, ref, args.index)
    print(f"[cli] reference LM + tercile cutoffs persisted under "
          f"{args.index}/lm")
    return 0


def cmd_stream_lm(args) -> int:
    from .streaming.curation_stream import index_lm, stream_lm_bucket

    spark = _spark(args)
    if args.init_ref:
        index_lm(
            spark,
            spark.read.parquet(args.init_ref).select("doc_id", "lang", "text"),
            args.index,
        )
        print(f"[cli] reference LM trained at {args.index}")
    q = stream_lm_bucket(
        spark, args.feed, args.index, args.out, checkpoint=args.checkpoint
    )
    drained = _await_drained(q, args.timeout)
    return 0 if drained else 3


def cmd_verify(args) -> int:
    """Run the DuckDB-oracle comparison for declared queries — the same
    check the correctness driver runs, as a user-facing command.  Exit
    code 1 if any query diverges."""
    from .oracle import compare, duckdb_con
    from .queries import QUERIES

    sf_dir = _tables_dir(args)
    names = args.name or [n for n, q in QUERIES.items() if q.oracle]
    # validate BEFORE the --first slice: a typo'd --name beyond the slice
    # must fail loudly, not be silently dropped from a run that exits 0
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    if args.first:
        names = names[: args.first]
    spark = _spark(args)
    con = duckdb_con(sf_dir)
    failed = []
    try:
        for name in names:
            q = QUERIES[name]
            if q.oracle is None:
                n = q.spark_fn(spark, sf_dir).count()
                print(f"{name}\trows-only\t{n} rows")
                continue
            ok, msg = compare(q.spark_fn(spark, sf_dir), con, q.oracle)
            print(f"{name}\t{'OK' if ok else 'FAIL'}\t{msg}")
            if not ok:
                failed.append(name)
    finally:
        con.close()
    if failed:
        print(f"[cli] {len(failed)} FAILED: {failed}")
        return 1
    print(f"[cli] {len(names)} queries verified")
    return 0


def cmd_explain(args) -> int:
    from .queries import QUERIES

    if args.name not in QUERIES:
        raise SystemExit(f"unknown query {args.name!r}")
    sf_dir = _tables_dir(args)
    spark = _spark(args)
    df = QUERIES[args.name].spark_fn(spark, sf_dir)
    df.explain(mode=args.mode)
    return 0


def cmd_list(args) -> int:
    from .queries import QUERIES

    for name, q in QUERIES.items():
        tag = q.survey or "-"
        oracle = "oracle" if q.oracle else "rows-only"
        print(f"{name}\t{oracle}\t{tag}")
    return 0


def _add_index_opts(p: argparse.ArgumentParser) -> None:
    from .catalog import INDEX_SCHEMAS

    for key in INDEX_SCHEMAS:
        p.add_argument(f"--{key.replace('_', '-')}", dest=key, metavar="PARQUET")


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="data_pipeline_spark", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="full entity build: records -> all tiers")
    b.add_argument("--records", required=True, metavar="PARQUET")
    b.add_argument("--idmap-prev", metavar="PARQUET")
    b.add_argument("--merge-order", metavar="src=0,src=1")
    b.add_argument("--out", required=True, metavar="DIR")
    b.add_argument("--tiers", default="merged,idmap,edges")
    _add_index_opts(b)
    _add_common(b)
    b.set_defaults(fn=cmd_build)

    i = sub.add_parser("incremental", help="apply a change feed, rebuild the blast radius")
    i.add_argument("--records", required=True, metavar="PARQUET")
    i.add_argument("--changes", required=True, metavar="PARQUET")
    i.add_argument("--idmap-prev", required=True, metavar="PARQUET")
    i.add_argument("--prev-merged", required=True, metavar="PARQUET")
    i.add_argument("--merge-order", metavar="src=0,src=1")
    i.add_argument("--last-harvest", metavar="ISO_TS")
    i.add_argument("--out", required=True, metavar="DIR")
    i.add_argument("--tiers", default="merged,idmap,records")
    _add_index_opts(i)
    _add_common(i)
    i.set_defaults(fn=cmd_incremental)

    q = sub.add_parser("query", help="run a declared query against an SF directory")
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir")
    q.add_argument(
        "--table", action="append", metavar="name=path",
        help="override a table with your own parquet (repeatable)",
    )
    q.add_argument("--out", metavar="PARQUET")
    q.add_argument("--limit", type=int, default=0)
    _add_common(q)
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser(
        "curate",
        help="d41 training-data build over a documents parquet -> ordered shards",
    )
    c.add_argument("--sf-dir")
    c.add_argument(
        "--table", action="append", metavar="name=path",
        help="e.g. --table documents=/data/my_corpus.parquet",
    )
    c.add_argument("--out", required=True, metavar="DIR")
    c.add_argument("--n-shards", type=int, default=16)
    _add_common(c)
    c.set_defaults(fn=cmd_curate)

    s = sub.add_parser("search", help="run a search-DSL query (string or JSON form)")
    s.add_argument("--sf-dir", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--model", metavar="DIR", help="persisted search model (load, or write with --materialize)")
    s.add_argument("--materialize", action="store_true", help="(re)build the persisted model at --model first")
    s.add_argument("--json", action="store_true", help="parse --query as the JSON clause form")
    s.add_argument("--scored", action="store_true", help="emit (id, score) BOOST ranking")
    s.add_argument("--limit", type=int, default=0)
    _add_common(s)
    s.set_defaults(fn=cmd_search)

    e = sub.add_parser("export", help="export a parquet tier as jsonl/csv/nt")
    e.add_argument("--input", required=True, metavar="PARQUET")
    e.add_argument("--format", required=True, choices=("jsonl", "csv", "nt"))
    e.add_argument("--out", required=True)
    e.add_argument("--shards", type=int, default=24)
    _add_common(e)
    e.set_defaults(fn=cmd_export)

    st = sub.add_parser("stream-entity", help="run the streaming incremental entity build")
    st.add_argument("--feed", required=True, metavar="DIR")
    st.add_argument("--state", required=True, metavar="DIR")
    st.add_argument("--checkpoint", required=True, metavar="DIR")
    st.add_argument("--init-records", metavar="PARQUET")
    st.add_argument("--merge-order", metavar="src=0,src=1")
    st.add_argument("--last-harvest", metavar="ISO_TS")
    st.add_argument("--compact", action="store_true")
    st.add_argument(
        "--compact-every", type=int, metavar="N", default=8,
        help="fold committed deltas into base every N micro-batches "
        "(bounds fold fan-in on long-running streams). Default 8: at the "
        "measured 30x point each accumulated delta adds ~0.8s to a fold "
        "read while compacting a small crawl costs ~4s (SCALE.md round "
        "13) — every-8 keeps read overhead under ~30%% of the base scan "
        "while amortizing compaction's fixed cost. Pass 0 to disable.",
    )
    st.add_argument(
        "--export-merged", metavar="DIR",
        help="after draining, write the FOLDED merged tier as parquet "
        "(the delta state layout is merge-on-read; downstream readers "
        "consume this materialized view, not the raw state dirs)",
    )
    st.add_argument("--timeout", type=int, default=600, help="awaitTermination seconds")
    st.add_argument(
        "--state-buckets", type=int, metavar="N",
        help="bucket count for a fresh --init-records state base "
        "(compaction rewrites whole buckets: size them to ~128 MB at "
        "production scale; default auto-sizes from the record count)",
    )
    _add_index_opts(st)
    _add_common(st)
    st.set_defaults(fn=cmd_stream_entity)

    se = sub.add_parser(
        "state-export",
        help="materialize a folded entity-state tier as parquet, "
        "optionally as of a past micro-batch (time-travel up to the "
        "last compaction)",
    )
    se.add_argument("--state", required=True, metavar="DIR")
    se.add_argument("--checkpoint", required=True, metavar="DIR")
    se.add_argument("--tier", choices=("records", "idmap", "merged"),
                    default="merged")
    se.add_argument("--out", required=True, metavar="DIR")
    se.add_argument("--as-of-batch", type=int, metavar="K")
    _add_common(se)
    se.set_defaults(fn=cmd_state_export)

    sl = sub.add_parser(
        "state-lookup",
        help="point lookup of fold keys against the folded entity state "
        "(reads only the keys' bucket files + committed deltas)",
    )
    sl.add_argument("--state", required=True, metavar="DIR")
    sl.add_argument("--checkpoint", required=True, metavar="DIR")
    sl.add_argument("--tier", choices=("records", "idmap", "merged"),
                    default="records")
    sl.add_argument("--key", action="append", required=True, metavar="KEY",
                    help="fold key (records: canonical uri; idmap/merged: "
                    "yuid); repeatable")
    _add_common(sl)
    sl.set_defaults(fn=cmd_state_lookup)

    ss = sub.add_parser(
        "state-stats",
        help="entity-state summary: layout, bucket spread, delta fan-in "
        "(no Spark session — a directory walk)",
    )
    ss.add_argument("--state", required=True, metavar="DIR")
    ss.add_argument("--checkpoint", required=True, metavar="DIR")
    ss.set_defaults(fn=cmd_state_stats)

    sp = sub.add_parser(
        "state-repair",
        help="finish pending compaction plans / sweep dead staging "
        "(entity state and/or shared index dirs; no Spark session; "
        "takes the maintenance lock, so safe against a live stream)",
    )
    sp.add_argument("--state", metavar="DIR")
    sp.add_argument("--index", metavar="DIR")
    sp.set_defaults(fn=cmd_state_repair)

    sb = sub.add_parser(
        "state-rebucket",
        help="rewrite the state base under a new bucket count. Trigger: "
        "state-stats bucket_bytes_max outgrowing the sizing target "
        "(~128 MB/bucket at production scale); doubling the count halves "
        "it (measured at 100x: 37 s over 3M records, SCALE.md round 14). "
        "Pending deltas may stay (folds re-hash from each tier's meta); "
        "atomic per tier; re-run it to finish an interrupted rebucket",
    )
    sb.add_argument("--state", required=True, metavar="DIR")
    sb.add_argument("--buckets", type=int, required=True, metavar="N")
    _add_common(sb)
    sb.set_defaults(fn=cmd_state_rebucket)

    ix = sub.add_parser(
        "index-stats",
        help="shared-index summary: bucket spread (the index-rebucket "
        "trigger) + batch-partition fan-in (no Spark session)",
    )
    ix.add_argument("--index", required=True, metavar="DIR")
    ix.add_argument("--checkpoint", metavar="DIR",
                    help="also split batch dirs into committed vs retry-owned")
    ix.set_defaults(fn=cmd_index_stats)

    ib = sub.add_parser(
        "index-rebucket",
        help="rewrite bucketed index base tiers under a new bucket "
        "count. Trigger: index-stats bucket_bytes_max outgrowing "
        "~128 MB/bucket-file; staged + plan-applied (crash leaves old "
        "or new base), lock-safe against a live stream",
    )
    ib.add_argument("--index", required=True, metavar="DIR")
    ib.add_argument("--buckets", type=int, required=True, metavar="N")
    ib.add_argument("--tier", action="append", metavar="TIER",
                    help="restrict to these tiers (repeatable; default all "
                    "bucketed tiers)")
    _add_common(ib)
    ib.set_defaults(fn=cmd_index_rebucket)

    sr = sub.add_parser(
        "stream-refresh",
        help="stream crawls through the d48 admission gate against persisted indexes",
    )
    sr.add_argument("--feed", required=True, metavar="DIR", help="JSONL crawls: doc_id, text")
    sr.add_argument("--index", required=True, metavar="DIR")
    sr.add_argument("--verdicts", required=True, metavar="DIR")
    sr.add_argument("--checkpoint", required=True, metavar="DIR")
    sr.add_argument("--init-corpus", metavar="PARQUET", help="index this corpus as batch=base first")
    sr.add_argument(
        "--index-buckets", type=int, metavar="N",
        help="bucket count for a fresh --init-corpus index base "
        "(compaction rewrites whole bucket files: size them to ~128 MB "
        "at production scale; default auto-sizes from the row count)",
    )
    sr.add_argument("--compact", action="store_true")
    sr.add_argument(
        "--compact-every", type=int, metavar="N", default=0,
        help="fold committed index batches into base every N "
        "micro-batches (bounds partition-dir growth on long streams; "
        "0 = only at --compact after draining)",
    )
    sr.add_argument("--timeout", type=int, default=600)
    _add_common(sr)
    sr.set_defaults(fn=cmd_stream_refresh)

    li = sub.add_parser(
        "lm-index",
        help="train the CCNet-style reference LM (d56's bigram model) "
        "and persist it with per-language tercile cutoffs — the one-off "
        "init the LM-quality stream scores against",
    )
    li.add_argument("--ref-corpus", required=True, metavar="PARQUET",
                    help="trusted reference docs: doc_id, lang, text")
    li.add_argument("--index", required=True, metavar="DIR")
    _add_common(li)
    li.set_defaults(fn=cmd_lm_index)

    sm = sub.add_parser(
        "stream-lm",
        help="score a JSONL document feed against a persisted reference "
        "LM, bucketing head/middle/tail by the persisted cutoffs "
        "(stateless per micro-batch; the streaming twin of d56)",
    )
    sm.add_argument("--feed", required=True, metavar="DIR",
                    help="JSONL crawls: doc_id, lang, text")
    sm.add_argument("--index", required=True, metavar="DIR")
    sm.add_argument("--out", required=True, metavar="DIR")
    sm.add_argument("--checkpoint", required=True, metavar="DIR")
    sm.add_argument("--init-ref", metavar="PARQUET",
                    help="train the LM from this reference corpus first")
    sm.add_argument("--timeout", type=int, default=600)
    _add_common(sm)
    sm.set_defaults(fn=cmd_stream_lm)

    v = sub.add_parser(
        "verify",
        help="compare declared queries against their DuckDB oracles (driver's check)",
    )
    v.add_argument("--sf-dir")
    v.add_argument("--table", action="append", metavar="name=path")
    v.add_argument("--name", action="append", help="verify only these (repeatable)")
    v.add_argument("--first", type=int, default=0, help="verify only the first N")
    _add_common(v)
    v.set_defaults(fn=cmd_verify)

    ex = sub.add_parser("explain", help="print a declared query's physical plan")
    ex.add_argument("--name", required=True)
    ex.add_argument("--sf-dir")
    ex.add_argument("--table", action="append", metavar="name=path")
    ex.add_argument(
        "--mode", default="formatted",
        choices=("simple", "extended", "formatted", "cost", "codegen"),
    )
    _add_common(ex)
    ex.set_defaults(fn=cmd_explain)

    ls = sub.add_parser("list", help="list declared queries")
    _add_common(ls)
    ls.set_defaults(fn=cmd_list)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
