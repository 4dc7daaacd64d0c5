"""CLI — `python -m kettle_jena_plugins_spark.run <cmd>` (spark-submit-able:
`spark-submit --py-files kettle_jena_plugins_spark.zip -m ...` on a cluster).

Commands:
  gen-wal  --out DIR --n-events N [--segments K] [knobs]   write a WAL dir
  create   --table DIR [--n-buckets N] [--mode cow|mor]    create the target;
           the only command that chooses a layout (the manifest records it)
  stream   --wal DIR --table DIR --checkpoint DIR          tail WAL → MERGE
           (with --dialect D: tail raw JSON-lines envelopes instead —
           checkpoint/resume semantics identical)
  apply    --events PATH --table DIR --batch-id N          one batch
  ingest   --envelopes PATH --dialect D --table DIR --batch-id N
           raw wire-format JSON lines (canal|debezium|dms|maxwell|mongo|wal2json)
           → parse (sources/envelopes.py) → validate/dead-letter →
           exactly-once MERGE — the whole-pipeline form of `apply` for
           streams that arrive as envelopes instead of parquet events
           (--partial-images: wal2json sparse column images → the
           cell-level merge, coalescing against committed rows;
           mongo $set/$unset patches force it automatically)
  state    --table DIR [--limit N]                         show final state
  changes  --table DIR --from-version A --to-version B     net changelog read
           between two committed snapshots (incremental consumption);
           with --emit-dialect D --out DIR, writes it as wire-format
           JSON lines (changelog fan-out: the lake as a CDC SOURCE);
           --sparse (mongo only) emits minimal $set/$unset cell patches
  maintain --table DIR [--keep-last N]                     expire old snapshots
           and reclaim unreferenced data files
  ann      {build|probe|append} --vectors PATH --index DIR
           persisted IVF-PQ index lifecycle: build quantizers + cell-
           partitioned m-byte codes once; probes prune to nprobe cells
  index    {build|probe|append} --docs PATH --index DIR
           persisted dedup index lifecycle (dedup-on-ingest): history is
           hashed once at build; each probe costs O(batch + candidates);
           accepted batches append without touching existing files
  pipeline --spec FILE --input PATH [--sink DIR] [--var k=v]
           run a declarative pipeline spec over a parquet input (the
           `.ktr`-file entry point: reference EndToEndIT.java:60-92 runs a
           transformation file; here the spec is the JSON plan from
           plans/pipeline.py). --input changes:DIR derives the change
           stream from DIR/events.parquet; --input envelopes:DIALECT:PATH
           parses raw wire-format JSON lines (topic dump) first.
  bench    (see bench.py at repo root for the graded harness)
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import functions as F

from .datagen import gen_change_events
from .sources.envelopes import DIALECTS
from .session import get_spark
from .streaming.apply import CDCConfig, apply_batch, run_stream
from .targets.parquet_lake import ParquetLakeTarget


def _add_gen_knobs(p: argparse.ArgumentParser) -> None:
    p.add_argument("--n-events", type=int, required=True)
    p.add_argument("--n-convs", type=int, default=10_000)
    p.add_argument("--hot-frac", type=float, default=0.0)
    p.add_argument("--ooo-frac", type=float, default=0.1)
    p.add_argument("--dup-frac", type=float, default=0.0)
    p.add_argument("--p-delete", type=float, default=0.1)
    p.add_argument("--evolve-at", type=int, default=None)
    p.add_argument("--seed", type=int, default=42)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="kettle_jena_plugins_spark.run")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen-wal")
    g.add_argument("--out", required=True)
    g.add_argument("--segments", type=int, default=8)
    g.add_argument("--dialect", default=None,
                   choices=DIALECTS,
                   help="write the WAL as wire-format JSON lines in this "
                   "dialect instead of change-event parquet (fixture for "
                   "`stream --dialect` / `ingest`)")
    _add_gen_knobs(g)

    c = sub.add_parser("create")
    c.add_argument("--table", required=True)
    c.add_argument("--n-buckets", type=int, default=16)
    c.add_argument("--mode", choices=("cow", "mor"), default="cow")

    s = sub.add_parser("stream")
    s.add_argument("--wal", required=True,
                   help="dir of change-event parquet (default) or, with "
                   "--dialect, raw JSON-lines envelope files")
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--metrics", default=None)
    s.add_argument("--max-files-per-trigger", type=int, default=None)
    s.add_argument("--dialect", default=None,
                   choices=DIALECTS,
                   help="tail --wal as raw wire-format JSON lines in this "
                   "dialect instead of change-event parquet")
    s.add_argument("--source-table", default=None,
                   help="keep only this source table's rows (multiplexed "
                   "dialects)")
    s.add_argument("--payload-cols", default=None,
                   help="extra row columns as 'name:type,...' (schema "
                   "evolution through the envelope stream)")
    s.add_argument("--partial-images", action="store_true",
                   help="treat updates as PARTIAL row images (wal2json; "
                   "automatic for mongo): the wire's column list becomes "
                   "the set-columns mask and each micro-batch takes the "
                   "cell-level merge")

    a = sub.add_parser("apply")
    a.add_argument("--events", required=True)
    a.add_argument("--table", required=True)
    a.add_argument("--batch-id", type=int, required=True)

    ing = sub.add_parser("ingest")
    ing.add_argument("--envelopes", required=True,
                     help="JSON-lines file/dir/glob of raw CDC envelopes")
    ing.add_argument("--dialect", required=True,
                     choices=DIALECTS)
    ing.add_argument("--table", required=True)
    ing.add_argument("--batch-id", type=int, required=True)
    ing.add_argument("--source-table", default=None,
                     help="keep only this source table's rows (dialects "
                     "that multiplex tables on one stream)")
    ing.add_argument("--dead-letter", default=None,
                     help="parquet dir for rejected rows (unknown ops, "
                     "null keys)")
    ing.add_argument("--payload-cols", default=None,
                     help="extra row columns as 'name:type,...' (schema "
                     "evolution: an evolved producer's added columns; "
                     "the lake ALTERs on first sight)")
    ing.add_argument("--partial-images", action="store_true",
                     help="treat updates as PARTIAL row images: the "
                     "envelope's column list becomes the set-columns mask "
                     "and the merge coalesces cells against the committed "
                     "row (wal2json — its column array is naturally sparse "
                     "without REPLICA IDENTITY FULL; automatic for mongo)")

    st = sub.add_parser("state")
    st.add_argument("--table", required=True)
    st.add_argument("--limit", type=int, default=20)

    ch = sub.add_parser("changes")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-version", type=int, required=True)
    ch.add_argument("--to-version", type=int, required=True)
    ch.add_argument("--limit", type=int, default=20)
    ch.add_argument("--emit-dialect", default=None,
                    choices=DIALECTS,
                    help="write the net changelog as wire-format JSON "
                    "lines in this dialect (changelog fan-out)")
    ch.add_argument("--out", default=None,
                    help="output dir for --emit-dialect JSON lines")
    ch.add_argument("--sparse", action="store_true",
                    help="emit MINIMAL cell patches (only the columns whose "
                    "value changed between the snapshots) — requires "
                    "--emit-dialect mongo, the sparse-capable wire format "
                    "($set/$unset operations)")

    mt = sub.add_parser("maintain")
    mt.add_argument("--table", required=True)
    mt.add_argument("--keep-last", type=int, default=2)
    mt.add_argument("--compact", action="store_true",
                    help="resolve multi-layer buckets before expiring")

    ix = sub.add_parser("index")
    ix.add_argument(
        "action", choices=("build", "probe", "append", "compact")
    )
    ix.add_argument(
        "--docs",
        help="parquet of (doc_id, text); required except for compact",
    )
    ix.add_argument("--index", required=True, help="index directory")
    ix.add_argument("--threshold", type=float, default=0.8)
    ix.add_argument("--limit", type=int, default=20)
    ix.add_argument(
        "--max-bucket", type=int, default=None,
        help="hot-bucket guard width cap for probes (default "
        "MAX_BUCKET_DEFAULT; 0 disables — see operators/dedup.py)",
    )

    ann = sub.add_parser("ann")
    ann.add_argument("action", choices=("build", "probe", "append"))
    ann.add_argument(
        "--vectors", required=True, help="parquet of (vec_id, embedding)"
    )
    ann.add_argument("--index", required=True, help="index directory")
    ann.add_argument("--k", type=int, default=5)
    ann.add_argument("--nprobe", type=int, default=4)
    ann.add_argument("--n-centroids", type=int, default=16)
    ann.add_argument("--m", type=int, default=8)
    ann.add_argument("--ksub", type=int, default=8)
    ann.add_argument("--n-iters", type=int, default=1)
    ann.add_argument("--limit", type=int, default=20)

    pf = sub.add_parser("profile")
    pf.add_argument("--wal", required=True, help="WAL parquet dir of change events")
    pf.add_argument("--limit", type=int, default=20)

    pl = sub.add_parser("pipeline")
    pl.add_argument("--spec", required=True, help="JSON pipeline spec file")
    pl.add_argument("--input", required=True, help="parquet input path; "
                    "'changes:DIR' derives the change stream from DIR/events.parquet")
    pl.add_argument("--sink", default=None, help="output dir for a serialize step")
    pl.add_argument("--var", action="append", default=[],
                    help="k=v substitution variable (repeatable)")
    pl.add_argument("--show", type=int, default=5,
                    help="rows of the result to print (0 = none)")
    pl.add_argument("--stream", action="store_true",
                    help="tail --input as a WAL dir, running the spec per "
                    "micro-batch (requires --checkpoint)")
    pl.add_argument("--checkpoint", default=None)

    args = ap.parse_args(argv)
    if args.cmd == "index" and args.action != "compact" and not args.docs:
        ap.error(f"index {args.action} requires --docs")
    if args.cmd == "pipeline" and args.stream and not args.checkpoint:
        ap.error("pipeline --stream requires --checkpoint")
    if args.cmd == "maintain" and args.keep_last < 0:
        ap.error(f"--keep-last must be >= 0, not {args.keep_last}")
    spark = get_spark(
        master=args.master, shuffle_partitions=args.shuffle_partitions
    )

    if args.cmd in ("stream", "ingest"):
        from .sources.envelopes import (
            PARTIAL_DIALECTS,
            envelope_parser,
            extended_payload_schema,
        )

        if args.dialect is None and (
            args.source_table or args.payload_cols or args.partial_images
        ):
            ap.error(
                "--source-table/--payload-cols/--partial-images require "
                "--dialect (they only apply to envelope input)"
            )
        # one mask decision for both envelope front doors; the envelope
        # parser refuses a mask from a whole-row dialect and none from mongo
        mask = (
            "set_cols"
            if args.partial_images or args.dialect in PARTIAL_DIALECTS
            else None
        )
        try:
            payload_schema = (
                extended_payload_schema(args.payload_cols)
                if args.payload_cols
                else None
            )
            if args.dialect is not None:
                # ingest parses with it; for stream it only checks the
                # arguments — run_stream builds the same parser
                parse = envelope_parser(
                    args.dialect, table=args.source_table,
                    payload_schema=payload_schema, set_cols_col=mask,
                )
        except ValueError as e:
            ap.error(str(e))
    if args.cmd in ("create", "stream", "apply", "ingest", "state", "changes",
                    "maintain"):
        # the layout comes from the table's manifest; only create chooses it
        tgt = ParquetLakeTarget(spark, args.table)
        if args.cmd == "create" and tgt.exists():
            ap.error(f"a table already exists at {args.table}")
        if args.cmd != "create" and not tgt.exists():
            ap.error(f"no table at {args.table}; run create first")
    if args.cmd == "gen-wal":
        df = gen_change_events(
            spark,
            args.n_events,
            n_convs=args.n_convs,
            hot_frac=args.hot_frac,
            ooo_frac=args.ooo_frac,
            dup_frac=args.dup_frac,
            p_delete=args.p_delete,
            evolve_at=args.evolve_at,
            seed=args.seed,
        )
        # one flat file per lsn-range segment (flat layout: the
        # streaming file source treats each file as an increment)
        segs = df.repartitionByRange(args.segments, "lsn")
        if args.dialect:
            from .sources.envelopes import render_envelope

            # render is a narrow projection, so the range partitioning
            # (and hence the segment files) carries through
            render_envelope(segs, args.dialect).write.mode(
                "overwrite"
            ).text(args.out)
        else:
            segs.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "wal": args.out, "events": df.count(),
            **({"dialect": args.dialect} if args.dialect else {}),
        }))
    elif args.cmd == "create":
        tgt = ParquetLakeTarget(
            spark, args.table, n_buckets=args.n_buckets, mode=args.mode
        )
        tgt.create()
        print(json.dumps({"created": args.table, "mode": tgt.mode}))
    elif args.cmd == "stream":
        cfg = CDCConfig(metrics_path=args.metrics, partial_set_col=mask)
        t0 = time.time()
        run_stream(
            spark, args.wal, tgt, args.checkpoint, cfg,
            max_files_per_trigger=args.max_files_per_trigger,
            envelope_dialect=args.dialect,
            source_table=args.source_table,
            envelope_payload_schema=payload_schema,
        )
        print(json.dumps({
            "wall_sec": round(time.time() - t0, 2),
            "batch_id": tgt.last_committed_batch(),
            "snapshot": tgt.manifest()["version"],
        }))
    elif args.cmd == "apply":
        events = spark.read.parquet(args.events)
        res = apply_batch(tgt, events, args.batch_id)
        print(json.dumps(res.__dict__, default=str))
    elif args.cmd == "ingest":
        events = parse(spark.read.text(args.envelopes))
        cfg = CDCConfig(dead_letter_dir=args.dead_letter, partial_set_col=mask)
        res = apply_batch(tgt, events, args.batch_id, cfg)
        print(json.dumps(res.__dict__, default=str))
    elif args.cmd == "state":
        df = tgt.read().orderBy("conv_id", "turn_idx")
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({"rows": df.count()}))
    elif args.cmd == "changes":
        if args.emit_dialect:
            if not args.out:
                ap.error("--emit-dialect requires --out")
            from .sources.envelopes import render_envelope

            if args.sparse and args.emit_dialect != "mongo":
                ap.error("--sparse requires --emit-dialect mongo (other "
                         "renderers would treat the mask as a payload "
                         "column)")
            ev = tgt.changelog_as_events(
                args.from_version, args.to_version,
                sparse_col="set_cols" if args.sparse else None,
            ).cache()  # one changelog computation for count + write
            n = ev.count()
            env = render_envelope(ev, args.emit_dialect)
            env.write.mode("overwrite").text(args.out)
            ev.unpersist()
            print(json.dumps({
                "changed_keys": n,
                "dialect": args.emit_dialect,
                "out": args.out,
            }))
        else:
            df = tgt.changes_between(args.from_version, args.to_version)
            for r in df.limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
            print(json.dumps({"changed_keys": df.count()}))
    elif args.cmd == "maintain":
        out = {}
        if args.compact:
            out["buckets_compacted"] = tgt.compact()
        out.update(tgt.expire_snapshots(keep_last=args.keep_last))
        print(json.dumps(out))
    elif args.cmd == "profile":
        from .operators.metrics import churn_stats, update_delta_stats, wal_profile

        ch = spark.read.parquet(args.wal)
        for r in wal_profile(ch).orderBy("hour").limit(args.limit).collect():
            print(json.dumps({"wal_hour": r.asDict()}, default=str))
        worst = (
            churn_stats(ch).orderBy(F.col("churn").desc(), "conv_id")
            .limit(args.limit).collect()
        )
        for r in worst:
            print(json.dumps({"churn": r.asDict()}, default=str))
        big = (
            update_delta_stats(ch)
            .orderBy(F.col("avg_delta").desc(), "conv_id")
            .limit(args.limit).collect()
        )
        for r in big:
            print(json.dumps({"update_delta": r.asDict()}, default=str))
    elif args.cmd == "index":
        from .operators.dedup import (
            append_to_dedup_index,
            build_dedup_index,
            compact_dedup_index,
            dedup_against_saved_index,
        )

        if args.action == "compact":
            t0 = time.time()
            out = compact_dedup_index(spark, args.index)
            out["wall_sec"] = round(time.time() - t0, 2)
            print(json.dumps(out))
            return 0
        docs = spark.read.parquet(args.docs)
        if args.action in ("build", "append"):
            t0 = time.time()
            if args.action == "build":
                build_dedup_index(docs, args.index)
            else:
                append_to_dedup_index(docs, args.index)
            print(json.dumps({
                "index": args.index, "action": args.action,
                "docs": docs.count(),
                "wall_sec": round(time.time() - t0, 2),
            }))
        else:
            t0 = time.time()
            # collect once — count() + limit().collect() would each re-run
            # the whole propose+verify DAG the index exists to keep cheap
            from .operators.dedup import MAX_BUCKET_DEFAULT

            cap = (
                MAX_BUCKET_DEFAULT
                if args.max_bucket is None
                else (None if args.max_bucket == 0 else args.max_bucket)
            )
            rows = dedup_against_saved_index(
                spark, docs, args.index, threshold=args.threshold,
                max_bucket=cap,
            ).collect()
            for r in rows[: args.limit]:
                print(json.dumps(r.asDict(), default=str))
            print(json.dumps({
                "duplicates": len(rows), "batch_docs": docs.count(),
                "wall_sec": round(time.time() - t0, 2),
            }))
    elif args.cmd == "ann":
        from .operators.similarity import (
            ann_index_topk,
            append_to_ann_index,
            build_ann_index,
        )

        vecs = spark.read.parquet(args.vectors)
        if args.action in ("build", "append"):
            t0 = time.time()
            if args.action == "build":
                build_ann_index(
                    vecs,
                    args.index,
                    n_centroids=args.n_centroids,
                    m=args.m,
                    ksub=args.ksub,
                    n_iters=args.n_iters,
                )
            else:
                append_to_ann_index(vecs, args.index)
            print(json.dumps({
                "index": args.index, "action": args.action,
                "vectors": vecs.count(),
                "wall_sec": round(time.time() - t0, 2),
            }))
        else:
            t0 = time.time()
            rows = ann_index_topk(
                vecs, args.index, k=args.k, nprobe=args.nprobe
            ).collect()
            for r in rows[: args.limit]:
                print(json.dumps(r.asDict(), default=str))
            print(json.dumps({
                "results": len(rows), "queries": vecs.count(),
                "wall_sec": round(time.time() - t0, 2),
            }))
    elif args.cmd == "pipeline":
        from .plans.pipeline import parse, run_pipeline

        variables = dict(v.split("=", 1) for v in args.var)
        with open(args.spec) as f:
            steps = parse(f.read(), variables=variables)
        if args.stream:
            from .plans.pipeline import run_pipeline_stream

            t0 = time.time()
            run_pipeline_stream(
                spark, args.input, steps, args.checkpoint,
                sink_path=args.sink,
            )
            print(json.dumps({
                "steps": len(steps), "streamed": True,
                "wall_sec": round(time.time() - t0, 2),
            }))
            return 0
        if args.input.startswith("changes:"):
            from .sources.changes import change_events

            df = change_events(spark, args.input[len("changes:"):])
        elif args.input.startswith("envelopes:"):
            # envelopes:DIALECT:PATH — raw wire-format JSON lines as the
            # pipeline input (the .ktr lifecycle over a topic dump)
            from .sources.envelopes import envelope_parser

            parts = args.input.split(":", 2)
            if len(parts) != 3 or not parts[2]:
                ap.error(
                    "--input envelope form is envelopes:DIALECT:PATH "
                    f"(got {args.input!r})"
                )
            try:
                # pipeline steps see whole rows (set_cols_col=None): a
                # sparse dialect's untouched cells would read as nulls
                parse = envelope_parser(parts[1], set_cols_col=None)
            except ValueError as e:
                ap.error(str(e))
            df = parse(spark.read.text(parts[2]))
        else:
            df = spark.read.parquet(args.input)
        t0 = time.time()
        out = run_pipeline(df, steps, sink_path=args.sink)
        n = out.count()
        for r in out.limit(args.show).collect():
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({
            "steps": len(steps), "rows_out": n,
            "wall_sec": round(time.time() - t0, 2),
            **({"sink": args.sink} if args.sink else {}),
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
