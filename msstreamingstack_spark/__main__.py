"""CLI — the user-facing surface of the engine, mirroring the
reference's two runnable apps plus a query runner:

  produce   the producer (reference App.scala:29-50): paced
            deterministic event batches dropped as parquet files
            (Kafka-less stand-in; identical batching semantics)
  consume   the consumer (reference StructuredStreaming.scala main):
            single streaming query, enrichment + stateful
            sessionization, fan-out sinks
  query     run any registered named query and print its result

Examples:
  python -m msstreamingstack_spark produce --out /tmp/drops \\
      --batches 10 --batch-size 3
  python -m msstreamingstack_spark consume --source /tmp/drops \\
      --checkpoint /tmp/cp --parquet-out /tmp/history --once
  python -m msstreamingstack_spark query histogram_event_values \\
      --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import sys


def _cmd_produce(args: argparse.Namespace) -> int:
    from msstreamingstack_spark.sources.generator import drop_batches

    drop_batches(
        args.out,
        n_batches=args.batches,
        batch_size=args.batch_size,
        gap_sec=args.gap_sec,
        sleep_sec=args.sleep,
    )
    print(f"wrote {args.batches} drops to {args.out}")
    return 0


def _cmd_consume(args: argparse.Namespace) -> int:
    from msstreamingstack_spark.session import get_spark
    from msstreamingstack_spark.sinks.writers import (
        TransactionalParquetSink,
        console_sink,
    )
    from msstreamingstack_spark.streaming.pipeline import (
        run_pipeline,
        use_rocksdb_state,
    )

    spark = get_spark(app_name="msstreamingstack-consume")
    spark.sparkContext.setLogLevel("WARN")
    use_rocksdb_state(spark)
    sinks = []
    if args.console:
        sinks.append(console_sink)
    if args.parquet_out:
        sinks.append(TransactionalParquetSink(args.parquet_out))
    if not sinks:
        sinks = [console_sink]
    q = run_pipeline(
        spark,
        source_path=args.source,
        checkpoint_dir=args.checkpoint,
        sinks=sinks,
        gap_sec=args.gap_sec,
        available_now=args.once,
    )
    q.awaitTermination()
    return 0


def _cmd_verify(args: argparse.Namespace) -> int:
    """Run the driver-contract correctness gate locally: every
    oracle-bearing registered query on Spark AND its DuckDB oracle
    over the same parquet tables, value-hash compared (the external
    harness's check, as a product command)."""
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.session import get_spark
    from tests.oracle_harness import compare, duck_connect

    names = (
        [n.strip() for n in args.names.split(",") if n.strip()]
        if args.names
        else [n for n, s in sorted(REGISTRY.items()) if s.oracle]
    )
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="msstreamingstack-verify")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connect(args.sf_dir)
    failures = []
    for name in names:
        spec = REGISTRY[name]
        if spec.oracle is None:
            n = spec.builder(spark, args.sf_dir).count()
            print(f"{name}: rows-only ({n} rows)")
            continue
        try:
            ok, msg = compare(spec.builder(spark, args.sf_dir), con, spec.oracle)
        except Exception as exc:
            ok, msg = False, f"error: {exc}"
        print(f"{name}: {msg if ok else 'MISMATCH: ' + msg}")
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    if failures:
        print("failures:", ", ".join(failures), file=sys.stderr)
    return 1 if failures else 0


def _cmd_retain(args: argparse.Namespace) -> int:
    """TTL sweep on a hive-partitioned layout (metadata-only)."""
    from msstreamingstack_spark.sinks.layout import retention_sweep

    dropped = retention_sweep(
        args.path, args.partition_col, args.cutoff, dry_run=args.dry_run
    )
    verb = "would drop" if args.dry_run else "dropped"
    print(f"{verb} {len(dropped)} partition(s): {', '.join(dropped) or '-'}")
    return 0


def _cmd_catalog(args: argparse.Namespace) -> int:
    """Emit the query catalog as markdown (no Spark session needed) —
    the registry is the driver contract, so this IS the operator
    inventory."""
    from msstreamingstack_spark.queries import REGISTRY

    lines = [
        "# Query catalog (generated: `python -m msstreamingstack_spark catalog`)",
        "",
        f"{len(REGISTRY)} registered queries; "
        f"{sum(1 for s in REGISTRY.values() if s.oracle)} DuckDB-oracled, "
        f"{sum(1 for s in REGISTRY.values() if not s.oracle)} rows-only "
        "(pytest-verified).",
        "",
        "| query | tags | oracle | doc |",
        "|---|---|---|---|",
    ]
    for name, spec in sorted(REGISTRY.items()):
        doc = " ".join(spec.doc.split()).replace("|", "\\|")
        if len(doc) > 180:
            doc = doc[:177] + "..."
        lines.append(
            f"| `{name}` | {', '.join(spec.tags)} | "
            f"{'sql' if spec.oracle else 'rows-only'} | {doc} |"
        )
    text = "\n".join(lines) + "\n"
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
        print(f"wrote {args.out} ({len(REGISTRY)} queries)")
    else:
        print(text)
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.session import get_spark

    if args.name not in REGISTRY:
        known = ", ".join(sorted(REGISTRY))
        print(f"unknown query {args.name!r}; known: {known}", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"msstreamingstack-query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = REGISTRY[args.name].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return 0


def _cmd_plan(args: argparse.Namespace) -> int:
    """The 100 TB plan checklist as a product command: extract the
    assertable facts from a registry query's physical plan (pushed
    filters, read schemas, join strategies, exchange count, Python
    eval sites, codegen spans) and flag the hazards the plan-pin test
    suite guards — so 'explain and iterate' does not require reading
    raw EXPLAIN output or writing a test first."""
    import json as _json

    from msstreamingstack_spark.plans.inspect import plan_facts
    from msstreamingstack_spark.queries import REGISTRY
    from msstreamingstack_spark.session import get_spark

    if args.name not in REGISTRY:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"msstreamingstack-plan-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    f = plan_facts(REGISTRY[args.name].builder(spark, args.sf_dir))
    warnings = []
    if "CartesianProduct" in f.text:
        warnings.append("CartesianProduct in plan — unbounded pair blow-up")
    if f.python_evals:
        warnings.append(
            f"{f.python_evals} Python eval node(s) — verify each is an "
            "Arrow-batched kernel, not a row-at-a-time hot path"
        )
    if f.sortmerge_joins and not f.broadcast_joins:
        warnings.append(
            "sort-merge joins with no broadcast anywhere — check the "
            "small side really is too big to broadcast"
        )
    if not f.pushed_filters or all(not p for p in f.pushed_filters):
        warnings.append(
            "no pushed filters at the scan (fine for full-scan "
            "aggregations; a red flag under a selective WHERE)"
        )
    if f.in_memory_scans >= 2 and f.broadcast_exchanges >= 2:
        warnings.append(
            "a cached relation is read multiple times in a plan with "
            "multiple broadcasts — broadcast subtrees build eagerly "
            "and RACE an unpopulated cache, each recomputing its "
            "lineage; eagerly count() the persisted frame before "
            "forking it under broadcasts (the span-scrub 16x lesson, "
            "plans/notes.md round 8)"
        )
    payload = {
        "query": args.name,
        "pushed_filters": [p for p in f.pushed_filters if p],
        "read_schemas": f.read_schemas,
        "broadcast_joins": f.broadcast_joins,
        "sortmerge_joins": f.sortmerge_joins,
        "exchange_hits": f.shuffles,
        "codegen_spans": f.codegen_spans,
        "python_evals": f.python_evals,
        "in_memory_scans": f.in_memory_scans,
        "broadcast_exchanges": f.broadcast_exchanges,
        "warnings": warnings,
    }
    print(_json.dumps(payload, indent=1))
    if args.full:
        print(f.text)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="msstreamingstack_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("produce", help="drop paced event batches (producer)")
    p.add_argument("--out", required=True)
    p.add_argument("--batches", type=int, default=3)
    p.add_argument("--batch-size", type=int, default=3)
    p.add_argument("--gap-sec", type=int, default=300)
    p.add_argument("--sleep", type=float, default=0.0,
                   help="seconds between drops (0 = write all at once)")
    p.set_defaults(fn=_cmd_produce)

    c = sub.add_parser("consume", help="run the streaming pipeline (consumer)")
    c.add_argument("--source", required=True, help="event drop directory")
    c.add_argument("--checkpoint", required=True)
    c.add_argument("--parquet-out", help="exactly-once history sink directory")
    c.add_argument("--console", action="store_true", help="console sink")
    c.add_argument("--gap-sec", type=int, default=1800)
    c.add_argument("--once", action="store_true",
                   help="Trigger.AvailableNow: drain pending input, then stop")
    c.set_defaults(fn=_cmd_consume)

    q = sub.add_parser("query", help="run a registered named query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--rows", type=int, default=20)
    q.add_argument("--explain", action="store_true")
    q.set_defaults(fn=_cmd_query)

    vf = sub.add_parser(
        "verify", help="run the DuckDB-oracle correctness gate locally"
    )
    vf.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    vf.add_argument("--names", default=None,
                    help="comma-separated subset (default: all oracled)")
    vf.set_defaults(fn=_cmd_verify)

    rt = sub.add_parser(
        "retain", help="TTL-sweep expired partitions from a hive layout"
    )
    rt.add_argument("--path", required=True)
    rt.add_argument("--partition-col", default="event_date")
    rt.add_argument("--cutoff", required=True,
                    help="drop partitions with value < cutoff (lexical)")
    rt.add_argument("--dry-run", action="store_true")
    rt.set_defaults(fn=_cmd_retain)

    pl = sub.add_parser(
        "plan",
        help="extract the 100 TB plan checklist (pushdown, pruning, "
        "joins, exchanges, Python) for a registry query",
    )
    pl.add_argument("name", help="registry query name")
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pl.add_argument("--full", action="store_true",
                    help="also print the raw EXPLAIN FORMATTED text")
    pl.set_defaults(fn=_cmd_plan)

    ct = sub.add_parser("catalog", help="emit the query catalog as markdown")
    ct.add_argument("--out", default=None, help="write to file instead of stdout")
    ct.set_defaults(fn=_cmd_catalog)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
