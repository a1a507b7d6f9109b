"""The pipeline shell — the SheetsETL program itself, Spark-first.

Control flow mirrors /root/reference/src/loader.py:223-255 one-to-one:

  discover .sql files (loader.py:192-205, filter :200)
    -> execute each (cursor.execute at :231  ==>  spark.sql here)
    -> output-size guard ((rows+1)*cols >= 2M skips, :241-253)
    -> upsert into the sink by name (filename minus '.sql', :152)
  with per-file error isolation: a syntax or runtime error (:232-234) or
  a sink error (:184-186) logs and skips that file, never aborts the run.

What changes Spark-side depends on where the sink builds its output.
A sink that builds it on the driver (the Sheets upload, ``collects =
True``) gets one bounded collect per query: the guard collects at most
one row past the largest count the cell limit allows, as Arrow, rejects
on the same rule, and hands those rows to the sink (``rows=``), which
renders them on the driver. The query runs once and the rows never go
back into the JVM; only a ``validate`` hook gets a frame rebuilt from
them. A sink that writes from the executors (the directory sinks, temp
views) gets a count and then writes the query's own frame, so no result
passes through driver memory; the query runs twice there. Collecting
for them was measured: a near-limit result of long strings killed the
driver JVM (OutOfMemoryError) and with it the rest of the run, where the
distributed write publishes it.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from sheetsetl_spark.sinks.base import (
    DEFAULT_CELL_LIMIT,
    CellLimitExceeded,
    Sink,
    cell_count_guard,
    cell_limit_count,
)

logger = logging.getLogger(__name__)


@dataclass
class QueryFile:
    """A discovered query (the reference's file dict {id,name,mimeType,q},
    loader.py:192-205, with 'q' = SQL text attached at :203)."""

    name: str  # output name: filename minus '.sql' (loader.py:152)
    path: str
    sql: str


@dataclass
class QueryResult:
    name: str
    status: str  # ok | sql_error | cell_limit | validation_error | sink_error
    rows: int | None = None
    error: str | None = None
    size_pretty: str | None = None  # written output size (loader.py:247-249 parity)


class ValidationFailed(Exception):
    """Raised by a ``validate`` hook to block publishing a result."""


@dataclass
class PipelineReport:
    results: list[QueryResult] = field(default_factory=list)

    @property
    def ok(self) -> list[QueryResult]:
        return [r for r in self.results if r.status == "ok"]

    @property
    def skipped(self) -> list[QueryResult]:
        return [r for r in self.results if r.status != "ok"]


def discover_sql_files(source_dir: str) -> list[QueryFile]:
    """Directory analog of the Drive folder listing + mime/.sql filter
    (loader.py:105-122, :200)."""
    out: list[QueryFile] = []
    for fname in sorted(os.listdir(source_dir)):
        if not fname.endswith(".sql"):
            continue
        path = os.path.join(source_dir, fname)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            sql = fh.read()
        out.append(QueryFile(name=fname[: -len(".sql")], path=path, sql=sql))
    return out


class SqlFolderPipeline:
    """Run every .sql file in a folder and upsert each result into a sink.

    ``setup`` (optional) runs once before the loop — typically
    ``register_views`` so analyst SQL sees the catalog, the analog of the
    reference pointing its MySQL connection at a database (loader.py:54-58).

    ``dialect='mysql'`` routes each file through the conservative
    MySQL->Spark translator first (LIMIT off,cnt / DATE_FORMAT patterns /
    GROUP_CONCAT), so the reference's analyst files run unmodified.

    ``cell_limit`` (>= 1) is the reference's 2M-cell sheet cap. For a
    sink with ``collects = True`` it also bounds the rows each file
    collects to the driver: the result is collected once by the guard and
    the sink publishes those rows.

    ``validate`` (optional) is a ``(name, df) -> None`` hook called after
    the cell guard and BEFORE the sink, on the rows the sink will publish:
    the query's own frame, or for a collecting sink a frame over the
    collected rows (``spark.createDataFrame``), so the query still runs
    once. Raise :class:`ValidationFailed` (or return normally) to gate
    publishing on data-quality contracts
    (e.g. ``operators/quality_checks.py::check_constraints``); a failure
    records ``validation_error`` and skips only that file. The reference
    publishes whatever MySQL returns (loader.py:238-246) — this is the
    verification step between "query ran" and "sheet published".

    ``max_concurrency`` > 1 runs query files concurrently from a thread
    pool — Spark schedules concurrent jobs from one session across free
    cores, so small queries no longer serialize behind big ones (the
    reference is strictly serial, loader.py:227; its httplib2 workaround
    at :208-220 even documents why it couldn't thread). Results keep
    discovery order. Requires a thread-safe sink (the bundled local sinks
    write disjoint per-name paths, so they are).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        sink: Sink,
        cell_limit: int = DEFAULT_CELL_LIMIT,
        setup=None,
        max_concurrency: int = 1,
        dialect: str = "spark",
        validate=None,
    ):
        if dialect not in ("spark", "mysql"):
            raise ValueError(f"dialect must be spark|mysql, got {dialect!r}")
        if cell_limit < 1:
            raise ValueError(f"cell_limit must be >= 1, got {cell_limit!r}")
        self.spark = spark
        self.source_dir = source_dir
        self.sink = sink
        self.cell_limit = cell_limit
        self.setup = setup
        self.max_concurrency = max_concurrency
        self.dialect = dialect
        self.validate = validate

    def run(self) -> PipelineReport:
        if self.setup is not None:
            self.setup(self.spark)
        files = discover_sql_files(self.source_dir)
        report = PipelineReport()
        if self.max_concurrency <= 1:
            for qf in files:
                report.results.append(self._run_one(qf))
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=self.max_concurrency) as pool:
                report.results = list(pool.map(self._run_one, files))
        return report

    def _run_one(self, qf: QueryFile) -> QueryResult:
        logger.info("Executing query for file %s", qf.name)
        try:
            sql = qf.sql
            if self.dialect == "mysql":
                # analysts' MySQL files run unmodified (the reference ships
                # them verbatim to MySQL, loader.py:231); file-level entry
                # tolerates USE/SET NAMES preambles and rejects stateful
                # constructs with an actionable message
                from sheetsetl_spark.functions.mysql_compat import (
                    mysql_file_to_spark_sql,
                )

                sql = mysql_file_to_spark_sql(sql)
            else:
                # spark.sql() EXECUTES DDL/DML (an INSERT would mutate the
                # catalog instead of producing a sheet) — a result-set
                # pipeline must reject non-queries up front
                from sheetsetl_spark.functions.mysql_compat import ensure_read_only

                ensure_read_only(sql)
            df = self.spark.sql(sql)
        except Exception as exc:  # parse/analysis error -> skip file (loader.py:232-234)
            logger.exception("SQL error in %s", qf.name)
            return QueryResult(qf.name, "sql_error", error=str(exc))
        collects = getattr(self.sink, "collects", False)
        try:
            if collects:  # the query's only execution: the sink gets these rows
                table = cell_count_guard(df, qf.name, self.cell_limit)
                rows = table.num_rows
            else:  # the sink writes df from the executors
                rows = cell_limit_count(df, qf.name, self.cell_limit)
        except CellLimitExceeded as exc:  # loader.py:250-253
            logger.error("%s over the %d-cell limit, skipping", qf.name, self.cell_limit)
            return QueryResult(qf.name, "cell_limit", error=str(exc))
        except Exception as exc:  # runtime error (raise_error, ANSI cast...) -> skip file
            logger.exception("SQL error in %s", qf.name)
            return QueryResult(qf.name, "sql_error", error=str(exc))
        if self.validate is not None:
            try:
                frame = self.spark.createDataFrame(table, schema=df.schema) if collects else df
                self.validate(qf.name, frame)
            except Exception as exc:  # contract failure -> skip this file
                logger.error("Validation failed for %s: %s", qf.name, exc)
                return QueryResult(qf.name, "validation_error", rows=rows, error=str(exc))
        try:
            if collects:
                self.sink.write(df, qf.name, rows=table)
            else:
                self.sink.write(df, qf.name)
        except Exception as exc:  # sink error -> skip file (loader.py:184-186)
            logger.exception("Sink error for %s", qf.name)
            return QueryResult(qf.name, "sink_error", rows=rows, error=str(exc))
        size_pretty = None
        path_for = getattr(self.sink, "path_for", None)
        if callable(path_for):
            # A13 parity: the reference logs each query's spool size before
            # upload (loader.py:247-249); local dir sinks report the written
            # bytes the same way (driver-side stat of the output dir — no
            # extra Spark job).
            from sheetsetl_spark.sinks.base import dir_bytes, human_bytes

            try:
                size_pretty = human_bytes(dir_bytes(path_for(qf.name)))
            except OSError:
                size_pretty = None
        logger.info("Finished loading file %s (%s)", qf.name, size_pretty or "size n/a")
        return QueryResult(qf.name, "ok", rows=rows, size_pretty=size_pretty)
