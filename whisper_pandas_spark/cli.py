"""Console entry point: ``python -m whisper_pandas_spark [info] PATH ...``.

``info`` (default) prints file + archive metadata tables (reference CLI:
``whisper-pandas PATH`` → whisper_pandas.py:288-295). Header-only read —
no Spark session, no data scan.

``fetch PATH FROM UNTIL`` reads a time range at the best resolution
(Graphite fetch semantics, sources/fetch.py: small reads decode on the
driver, larger ones through the Spark source) and prints the points.

``convert PATH OUT`` materializes a .wsp tree as metric-partitioned
(optionally day-partitioned) parquet — the one-command "leave Whisper
behind" migration (sources/materialize.py).
"""

from __future__ import annotations

import argparse

from whisper_pandas_spark.sources.meta import print_info


def _cmd_info(args) -> None:
    for i, path in enumerate(args.paths):
        if i:
            print()
        print_info(path, args.compression)


def _own_session(app_name: str):
    """(spark, started_here): reuse a live session if the caller has one
    (a stop() would kill theirs too — same JVM), else start our own."""
    from pyspark.sql import SparkSession

    from whisper_pandas_spark.session import get_spark

    pre = SparkSession.getActiveSession()
    spark = pre or get_spark(app_name=app_name, master="local[4]",
                             shuffle_partitions=4)
    return spark, pre is None


def _cmd_convert(args) -> None:
    from whisper_pandas_spark.sources.materialize import materialize_to_parquet

    spark, started = _own_session("whisper_convert_cli")
    out = materialize_to_parquet(
        spark, args.path, args.out,
        with_date=args.with_date, compression=args.compression,
    )
    n = out.count()
    print(f"wrote {n} points -> {args.out} (partitioned by metric"
          f"{', ts_date' if args.with_date else ''})")
    if started:
        spark.stop()


def _cmd_fetch(args) -> None:
    from whisper_pandas_spark.sources.fetch import fetch

    spark, started = _own_session("whisper_fetch_cli")
    df = fetch(
        spark, args.path, args.frm, args.until,
        now_epoch=args.now, compression=args.compression,
    ).orderBy("metric", "timestamp")
    rows = df.collect()
    print(f"{'metric':<30} {'archive':>7} {'timestamp':>20} {'value':>12}")
    for r in rows[: args.limit]:
        print(f"{r['metric']:<30} {r['archive']:>7} "
              f"{r['timestamp'].isoformat():>20} {r['value']:>12.6f}")
    if len(rows) > args.limit:
        print(f"... ({len(rows)} rows total)")
    if started:
        spark.stop()


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(
        prog="whisper-pandas-spark", description="Whisper tools"
    )
    sub = parser.add_subparsers(dest="cmd")

    p_info = sub.add_parser("info", help="file + archive metadata (no Spark)")
    p_info.add_argument("paths", nargs="+", help="Whisper .wsp / .wsp.gz files")
    p_info.add_argument(
        "--compression", default="infer", choices=("infer", "none", "gzip")
    )

    p_fetch = sub.add_parser("fetch", help="read a time range at best resolution")
    p_fetch.add_argument("path", help="file, glob or directory")
    p_fetch.add_argument("frm", type=int, help="from (epoch seconds)")
    p_fetch.add_argument("until", type=int, help="until (epoch seconds)")
    p_fetch.add_argument("--now", type=int, default=None,
                         help="retention anchor (default: until)")
    p_fetch.add_argument("--limit", type=int, default=50)
    p_fetch.add_argument(
        "--compression", default="infer", choices=("infer", "none", "gzip")
    )

    p_conv = sub.add_parser(
        "convert", help="materialize a .wsp tree as partitioned parquet"
    )
    p_conv.add_argument("path", help="file, glob or directory")
    p_conv.add_argument("out", help="output parquet directory")
    p_conv.add_argument("--with-date", action="store_true",
                        help="add a daily ts_date partition column")
    p_conv.add_argument(
        "--compression", default="infer", choices=("infer", "none", "gzip")
    )

    # back-compat: bare paths behave like the reference CLI (`info`)
    if argv is None:
        import sys

        argv = sys.argv[1:]
    if argv and argv[0] not in ("info", "fetch", "convert", "-h", "--help"):
        argv = ["info", *argv]
    args = parser.parse_args(argv)
    if args.cmd is None:  # bare invocation: usage error, like the reference
        parser.print_usage()
        raise SystemExit(2)
    if args.cmd == "fetch":
        _cmd_fetch(args)
    elif args.cmd == "convert":
        _cmd_convert(args)
    else:
        _cmd_info(args)


if __name__ == "__main__":
    main()
