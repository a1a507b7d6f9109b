"""CLI entry point — the reference's cron-run shape (`python loader.py`
on a schedule, reference README.md:38-43 / src/loader.py:223-255) as
`python -m sheetsetl_spark`:

    python -m sheetsetl_spark run QUERY_DIR OUT_DIR \
        [--tables DIR] [--dialect mysql|spark] [--sink csv|parquet|json] \
        [--concurrency N] [--cell-limit N] [--ci-collation] [--cpus N]

Runs every .sql file in QUERY_DIR against the parquet tables in
--tables (registered as views, the folder-as-catalog analog of the
reference pointing its MySQL connection at a database), upserts each
result into OUT_DIR/<name>/, and prints the per-file report the
reference logs (loader.py:232-249): status, rows, output size. Exit
code 0 iff every file published.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="sheetsetl_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="run a folder of .sql files into a sink")
    run.add_argument("query_dir")
    run.add_argument("out_dir")
    run.add_argument(
        "--tables",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="directory of parquet tables to register as views",
    )
    run.add_argument("--dialect", choices=("spark", "mysql"), default="mysql")
    run.add_argument("--sink", choices=("csv", "parquet", "json"), default="csv")
    run.add_argument("--concurrency", type=int, default=1)
    run.add_argument(
        "--cell-limit",
        type=int,
        default=None,
        help="reject results of (rows + 1) * cols >= N cells (default 2,000,000, "
        "the Sheets cap); checked by a count, and the sink then "
        "writes from the executors, so no result is collected to the driver",
    )
    run.add_argument(
        "--ci-collation",
        action="store_true",
        help="register views with MySQL-default case-insensitive collation",
    )
    run.add_argument(
        "--cpus", type=int, default=None, help="local[N] master (default local[*])"
    )
    auth = sub.add_parser(
        "auth",
        help="one-time OAuth consent: print the URL, paste the code, "
        "store the credential (the reference's run_flow-then-exit step)",
    )
    auth.add_argument("--store", required=True, help="credential JSON path")
    auth.add_argument("--client-id", required=True)
    auth.add_argument("--client-secret", required=True)
    auth.add_argument(
        "--auth-uri", default="https://accounts.google.com/o/oauth2/v2/auth"
    )
    auth.add_argument("--token-uri", default="https://oauth2.googleapis.com/token")
    auth.add_argument("--scope", default="https://www.googleapis.com/auth/drive")
    args = parser.parse_args(argv)

    if args.cmd == "auth":
        from sheetsetl_spark.sinks.auth import FileTokenStore, OAuthTokenProvider

        provider = OAuthTokenProvider(
            FileTokenStore(args.store),
            token_uri=args.token_uri,
            client_id=args.client_id,
            client_secret=args.client_secret,
        )
        provider.run_console_consent(args.auth_uri, scope=args.scope)
        print(f"credential stored at {args.store}; re-run your pipeline")
        return 0

    from sheetsetl_spark.catalog import register_views
    from sheetsetl_spark.pipeline.runner import DEFAULT_CELL_LIMIT, SqlFolderPipeline
    from sheetsetl_spark.session import build_session
    from sheetsetl_spark.sinks.local import CsvDirSink, JsonDirSink, ParquetDirSink

    from pyspark.sql import SparkSession

    # getOrCreate may return a pre-existing session (tests, notebooks):
    # only stop what this process created, or the caller loses theirs.
    owned = SparkSession.getActiveSession() is None
    spark = build_session(
        app_name="sheetsetl-cli",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sink = {
        "csv": CsvDirSink,
        "parquet": ParquetDirSink,
        "json": JsonDirSink,
    }[args.sink](args.out_dir)
    try:
        report = SqlFolderPipeline(
            spark,
            args.query_dir,
            sink,
            cell_limit=DEFAULT_CELL_LIMIT if args.cell_limit is None else args.cell_limit,
            setup=lambda s: register_views(
                s, args.tables, case_insensitive=args.ci_collation
            ),
            max_concurrency=args.concurrency,
            dialect=args.dialect,
        ).run()
    finally:
        if owned:
            spark.stop()
    ok = True
    for r in report.results:
        line = f"{r.name}: {r.status}"
        if r.rows is not None:
            line += f" rows={r.rows}"
        if r.size_pretty:
            line += f" size={r.size_pretty}"
        if r.error:
            line += f" error={r.error}"
        print(line)
        ok = ok and r.status == "ok"
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
