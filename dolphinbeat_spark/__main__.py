"""Command-line surface: the operational analog of the reference's
``dolphinbeat --cfg`` daemon + HTTP control plane, shaped for an
analytics engine.

    python -m dolphinbeat_spark list [tag]
    python -m dolphinbeat_spark run <query> [--sf-dir DIR] [--explain] [-n N]
    python -m dolphinbeat_spark schema <registry.json> [db [table]]
    python -m dolphinbeat_spark demo-pipeline [--out DIR]

``run`` executes any registered query spec; ``schema`` is the
/schema/{db}/{table} analog over a saved registry; ``demo-pipeline``
streams the golden fixture sequence through the fan-out pipeline to
console+file sinks (the quick-start demo, ``README.md:26-41`` in the
reference).
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile


def _spark():
    from dolphinbeat_spark.session import get_spark

    return get_spark("dolphinbeat-cli")


def cmd_list(args) -> int:
    from dolphinbeat_spark.plans.registry import all_specs

    for name, spec in sorted(all_specs().items()):
        if args.tag and args.tag not in spec.tags:
            continue
        mark = "bench" if spec.bench else ("oracle" if spec.oracle else "rows-only")
        print(f"{name:40s} [{', '.join(spec.tags)}] ({mark})")
    return 0


def cmd_run(args) -> int:
    from dolphinbeat_spark.plans.registry import all_specs

    specs = all_specs()
    if args.query not in specs:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    df = specs[args.query].fn(_spark(), args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.n, truncate=False)
    return 0


def cmd_schema(args) -> int:
    from dolphinbeat_spark.schema.registry import SchemaRegistry

    reg = SchemaRegistry.load(args.registry)
    if args.db and args.table:
        td = reg.get(args.db, args.table)
        import dataclasses

        print(json.dumps(dataclasses.asdict(td), indent=2, default=str))
    else:
        for db, table in sorted(reg.tables()):
            if args.db and db != args.db:
                continue
            print(f"{db}.{table}")
    return 0


def cmd_demo_pipeline(args) -> int:
    from dolphinbeat_spark.sinks.ordered import OrderedFileSink
    from dolphinbeat_spark.sources.fixture_source import register_fixture_source
    from dolphinbeat_spark.streaming.pipeline import build_pipeline

    spark = _spark()
    register_fixture_source(spark)
    out = args.out or tempfile.mkdtemp(prefix="dolphinbeat_demo_")
    stream = spark.readStream.format("dolphinbeat_fixture").option("batch_size", "4").load()
    build_pipeline(
        stream,
        [
            ("all_ops", [], [], OrderedFileSink(f"{out}/all_ops")),
            ("canal_only", [r".*\.canal_test"], [],
             OrderedFileSink(f"{out}/canal_only", producer_id=2)),
        ],
        f"{out}/ckp",
    ).awaitTermination(120)
    print(f"demo output under {out}")
    return 0


def cmd_consume(args) -> int:
    """The reference's kafka-consumer tool
    (``cmd/tools/kafka-consumer/main.go``): read protobuf Message bytes
    (one file per message, or a directory of them, in name order), run
    the client decode chain (seq-dedup, reassembly, decompress), print
    each op as JSON + the commit bookkeeping."""
    from pathlib import Path

    from dolphinbeat_spark.sinks.wire_protocol import OperationDecoder

    src = Path(args.path)
    files = sorted(src.glob("*.msg")) if src.is_dir() else [src]
    dec = OperationDecoder(last_commit_seq=args.last_commit_seq)
    for offset, f in enumerate(files):
        res = dec.feed(f.read_bytes(), offset=offset)
        if res is None:
            continue
        for op in res.ops:
            print(json.dumps(op, default=str))
        print(
            json.dumps(
                {
                    "_commit": {
                        "begin_seq": res.begin_seq,
                        "end_seq": res.end_seq,
                        "commit_offset": res.commit_offset,
                        "commit_seq": res.commit_seq,
                    }
                }
            )
        )
    return 0


def cmd_serve(args) -> int:
    """HTTP control surface over a saved registry (reference daemon's
    M1 routes; Ctrl-C stops)."""
    from dolphinbeat_spark.schema.registry import SchemaRegistry
    from dolphinbeat_spark.streaming.http_server import ControlServer

    reg = SchemaRegistry.load(args.registry) if args.registry else None
    srv = ControlServer(registry=reg, host=args.host, port=args.port)
    port = srv.serve()
    print(f"serving on http://{args.host}:{port}  (/status /schema /ddl/failed)")
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        srv.stop()
    return 0


def cmd_daemon(args) -> int:
    from dolphinbeat_spark.daemon import main as daemon_main

    argv = ["--config", args.config] + (["--dry-run"] if args.dry_run else [])
    return daemon_main(argv)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dolphinbeat_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lp = sub.add_parser("list", help="list registered query specs")
    lp.add_argument("tag", nargs="?", help="filter by tag")
    lp.set_defaults(fn=cmd_list)

    rp = sub.add_parser("run", help="run one query spec")
    rp.add_argument("query")
    rp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rp.add_argument("--explain", action="store_true")
    rp.add_argument("-n", type=int, default=20, help="rows to show")
    rp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("schema", help="inspect a saved schema registry")
    sp.add_argument("registry")
    sp.add_argument("db", nargs="?")
    sp.add_argument("table", nargs="?")
    sp.set_defaults(fn=cmd_schema)

    dp = sub.add_parser("demo-pipeline", help="stream the golden fixtures through the fan-out pipeline")
    dp.add_argument("--out", default=None)
    dp.set_defaults(fn=cmd_demo_pipeline)

    cp = sub.add_parser("consume", help="decode protobuf Message files (kafka-consumer tool analog)")
    cp.add_argument("path", help="a .msg file or a directory of *.msg files in name order")
    cp.add_argument("--last-commit-seq", type=int, default=0)
    cp.set_defaults(fn=cmd_consume)

    vp = sub.add_parser("serve", help="HTTP control surface (/status, /schema, /ddl/*)")
    vp.add_argument("--registry", default=None, help="saved registry JSON to serve")
    vp.add_argument("--host", default="127.0.0.1")
    vp.add_argument("--port", type=int, default=8080)
    vp.set_defaults(fn=cmd_serve)

    dm = sub.add_parser(
        "daemon",
        help="TOML-configured CDC daemon (the reference's dolphinbeat --cfg shape)",
    )
    dm.add_argument("--config", required=True)
    dm.add_argument("--dry-run", action="store_true")
    dm.set_defaults(fn=cmd_daemon)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
