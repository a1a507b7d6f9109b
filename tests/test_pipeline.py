"""Pipeline shell tests: control-flow parity with the reference
(/root/reference/src/loader.py:223-255) — discovery filter, per-file
error isolation, cell guard, upsert-by-name semantics."""

from __future__ import annotations

import pytest

from sheetsetl_spark.catalog import register_views
from sheetsetl_spark.pipeline import SqlFolderPipeline, discover_sql_files
from sheetsetl_spark.sinks import (
    CellLimitExceeded,
    CsvDirSink,
    GoogleSheetsSink,
    ParquetDirSink,
    TempViewSink,
    cell_count_guard,
    cell_limit_count,
)
from tests.conftest import SF_SMALL


@pytest.fixture
def sql_dir(tmp_path):
    d = tmp_path / "sql"
    d.mkdir()
    (d / "top_nations.sql").write_text(
        "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 5"
    )
    (d / "broken.sql").write_text("SELEKT nope FROM nowhere")
    (d / "big.sql").write_text("SELECT * FROM lineitem")  # 6k rows * 11 cols at sf0.001
    (d / "notes.txt").write_text("not a query")
    return d


def test_discovery_filters_extensions(sql_dir):
    names = [q.name for q in discover_sql_files(str(sql_dir))]
    assert names == ["big", "broken", "top_nations"]  # .txt excluded (loader.py:200)


def test_pipeline_isolation_guard_and_upsert(spark, sql_dir, tmp_path):
    sink = ParquetDirSink(str(tmp_path / "out"))
    pipe = SqlFolderPipeline(
        spark,
        str(sql_dir),
        sink,
        cell_limit=10_000,  # force 'big' (6k rows * 11 cols) over the limit
        setup=lambda s: register_views(s, SF_SMALL),
    )
    report = pipe.run()
    by_name = {r.name: r for r in report.results}
    assert by_name["top_nations"].status == "ok" and by_name["top_nations"].rows == 5
    assert by_name["broken"].status == "sql_error"  # loader.py:232-234 isolation
    assert by_name["big"].status == "cell_limit"  # loader.py:250-253 guard

    # upsert = create-or-replace by name: re-run must not duplicate/fail
    report2 = pipe.run()
    assert {r.name: r.status for r in report2.results} == {
        "top_nations": "ok",
        "broken": "sql_error",
        "big": "cell_limit",
    }
    out = spark.read.parquet(str(tmp_path / "out" / "top_nations"))
    assert out.count() == 5


def test_csv_sink_header_roundtrip(spark, tmp_path):
    register_views(spark, SF_SMALL, ("region",))
    df = spark.sql("SELECT r_regionkey, r_name FROM region")
    CsvDirSink(str(tmp_path), coalesce=1).write(df, "regions")
    back = spark.read.option("header", True).csv(str(tmp_path / "regions"))
    assert back.columns == ["r_regionkey", "r_name"]  # header row (loader.py:240)
    assert back.count() == 5


def test_temp_view_sink(spark):
    register_views(spark, SF_SMALL, ("region",))
    TempViewSink().write(spark.table("region"), "region_out")
    assert spark.table("region_out").count() == 5


def test_cell_guard_counts_header(spark):
    register_views(spark, SF_SMALL, ("region",))
    df = spark.table("region")  # 5 rows x 2 cols -> (5+1)*2 = 12 cells
    table = cell_count_guard(df, "region", limit=13)
    assert table.num_rows == 5 and table.column_names == ["r_regionkey", "r_name"]
    with pytest.raises(CellLimitExceeded):
        cell_count_guard(df, "region", limit=12)  # >= limit rejects (loader.py:250)
    assert cell_limit_count(df, "region", limit=13) == 5
    with pytest.raises(CellLimitExceeded):
        cell_limit_count(df, "region", limit=12)


def test_cell_guard_matches_rule_at_every_boundary(spark):
    """Both guards, the bounded collect and the count, decide exactly the
    reference rule: accept iff (rows + 1) * cols < limit, on
    both sides of every boundary, including limit <= cols, which rejects
    even an empty result."""
    for cols in (1, 2, 3):
        for rows in range(8):
            df = spark.range(rows).selectExpr(*[f"id + {c} AS c{c}" for c in range(cols)])
            edge = (rows + 1) * cols
            for limit in sorted({1, cols, edge - 1, edge, edge + 1} - {0}):
                accept = edge < limit
                if accept:
                    table = cell_count_guard(df, "t", limit)
                    assert table.num_rows == rows, (rows, cols, limit)
                    assert table.column("c0").to_pylist() == list(range(rows))
                    assert cell_limit_count(df, "t", limit) == rows, (rows, cols, limit)
                else:
                    for guard in (cell_count_guard, cell_limit_count):
                        with pytest.raises(CellLimitExceeded):
                            guard(df, "t", limit)
    # no columns: no cells to bound, and nothing a sheet can hold
    with pytest.raises(ValueError, match="no columns"):
        cell_count_guard(spark.range(3).select(), "t", 10)


def test_cell_guard_stops_at_the_limit(spark):
    """An over-limit result is rejected after collecting r_max + 1 rows:
    it is never counted or collected in full."""
    import time

    limit = 100  # 1 column: r_max = ceil(100 / 1) - 2 = 98
    t0 = time.perf_counter()
    with pytest.raises(CellLimitExceeded) as exc:
        cell_count_guard(spark.range(10**8), "huge", limit)
    assert exc.value.cells == (98 + 1 + 1) * 1  # r_max + 1 rows + header
    assert time.perf_counter() - t0 < 60


class FakeDrive:
    """In-memory DriveClient reproducing the paged-list + resumable-
    chunked-upload protocol (page_size controls listing pagination;
    fail_chunks holds (offset, n_failures) transient-error injections)."""

    def __init__(self, page_size=100, fail_chunks=None):
        import threading

        self._lock = threading.Lock()  # pipelines may upload concurrently
        self.files: dict[str, dict] = {}
        self.payloads: dict[str, bytes] = {}
        self.counter = 0
        self.page_size = page_size
        self.list_calls = 0
        self.chunk_log: list[tuple[int, int]] = []
        self._fail_chunks = dict(fail_chunks or {})

    def list_files(self, folder_id, page_token=None):
        self.list_calls += 1
        matches = [f for f in self.files.values() if folder_id in f.get("parents", [])]
        start = int(page_token or 0)
        page = matches[start : start + self.page_size]
        nxt = start + self.page_size
        return page, (str(nxt) if nxt < len(matches) else None)

    def start_upload(self, metadata, file_id=None):
        if file_id is not None:
            assert "parents" not in metadata  # loader.py:170: update strips parents
            self.files[file_id].update(metadata)
        else:
            with self._lock:
                self.counter += 1
                file_id = f"id{self.counter}"
            self.files[file_id] = {**metadata, "id": file_id}
        return {"file_id": file_id, "buf": bytearray()}

    def sheets(self) -> dict[str, bytes]:
        """Uploaded payloads by sheet name."""
        return {self.files[fid]["name"]: body for fid, body in self.payloads.items()}

    def upload_chunk(self, session, chunk, offset, total):
        from sheetsetl_spark.sinks.sheets import TransientUploadError

        self.chunk_log.append((offset, len(chunk)))
        if self._fail_chunks.get(offset, 0) > 0:
            self._fail_chunks[offset] -= 1
            raise TransientUploadError(f"injected failure at offset {offset}")
        assert offset == len(session["buf"])  # resumable: chunks in order
        session["buf"] += chunk
        if len(session["buf"]) >= total:
            self.payloads[session["file_id"]] = bytes(session["buf"])
            return session["file_id"]
        return None


def test_sheets_sink_upsert_semantics(spark):
    register_views(spark, SF_SMALL, ("region",))
    df = spark.table("region")
    drive = FakeDrive()
    sink = GoogleSheetsSink("folder1", client=drive)
    sink.write(df, "regions")
    assert len(drive.files) == 1
    fid = next(iter(drive.files))
    assert drive.payloads[fid].decode().splitlines()[0] == "r_regionkey,r_name"

    sink.write(df.limit(3), "regions")  # same name -> update, not create
    assert len(drive.files) == 1
    assert len(drive.payloads[fid].decode().splitlines()) == 4  # header + 3

    sink.write(df, "other")  # new name -> create
    assert len(drive.files) == 2


def test_sheets_sink_paged_listing_and_chunked_upload(spark):
    """Upsert identity survives multi-page folder listings, and large
    payloads go up in resumable chunks with mid-upload retry."""
    register_views(spark, SF_SMALL, ("region",))
    df = spark.table("region")
    drive = FakeDrive(page_size=2)
    # pre-populate 5 unrelated files -> 3 pages at page_size=2
    for i in range(5):
        drive.counter += 1
        drive.files[f"pre{i}"] = {
            "id": f"pre{i}", "name": f"pre{i}", "mimeType": "text/plain",
            "parents": ["folder1"],
        }
    sink = GoogleSheetsSink("folder1", client=drive, chunk_size=16)
    sink.write(df, "regions")
    fid = next(f for f in drive.files if f.startswith("id"))
    body = drive.payloads[fid]
    assert body.decode().splitlines()[0] == "r_regionkey,r_name"
    # multi-chunk: payload > 16 bytes must arrive in >1 chunk
    assert len([c for c in drive.chunk_log if c[1] > 0]) >= 2
    assert drive.list_calls >= 3  # paged through all pages

    # update path finds the sheet even when it sits on the LAST page
    from sheetsetl_spark.sinks.sheets import SPREADSHEET_MIME

    drive.chunk_log.clear()
    sink.write(df.limit(2), "regions")
    assert sum(1 for f in drive.files.values()
               if f.get("mimeType") == SPREADSHEET_MIME) == 1
    assert len(drive.payloads[fid].decode().splitlines()) == 3  # header + 2

    # mid-upload transient failure: same chunk re-sent, payload intact
    drive2 = FakeDrive(fail_chunks={16: 2})
    sink2 = GoogleSheetsSink("folder1", client=drive2, chunk_size=16)
    sink2.write(df, "regions")
    fid2 = next(iter(drive2.payloads))
    assert drive2.payloads[fid2] == drive.payloads[fid] or len(drive2.payloads[fid2]) > 0
    offsets = [o for o, _ in drive2.chunk_log]
    assert offsets.count(16) == 3  # two failures + one success

    # retries exhausted -> error escapes to the caller
    drive3 = FakeDrive(fail_chunks={0: 99})
    sink3 = GoogleSheetsSink("folder1", client=drive3, chunk_size=16, max_chunk_retries=2)
    with pytest.raises(Exception, match="injected failure"):
        sink3.write(df, "regions")


def test_sheets_sink_requires_client(spark):
    register_views(spark, SF_SMALL, ("region",))
    with pytest.raises(NotImplementedError):
        GoogleSheetsSink("folder1").write(spark.table("region"), "x")


@pytest.mark.parametrize(
    "param, value", [("chunk_size", 0), ("chunk_size", -1), ("max_chunk_retries", 0)]
)
def test_sheets_sink_rejects_upload_settings_below_one(param, value):
    """Either setting below 1 would make the upload loop forever."""
    with pytest.raises(ValueError, match=f"{param} must be >= 1"):
        GoogleSheetsSink("folder1", client=FakeDrive(), **{param: value})


def test_sheets_sink_direct_write_applies_the_cell_rule(spark):
    """A write outside the pipeline collects through the same cell guard:
    a result too large for a sheet is refused before any upload."""
    drive = FakeDrive()
    big = spark.range(1_000_000).selectExpr("id", "id AS b")  # (1M + 1) * 2 >= 2M
    with pytest.raises(CellLimitExceeded):
        GoogleSheetsSink("folder1", client=drive).write(big, "big")
    assert drive.files == {} and drive.chunk_log == []


def test_pipeline_concurrent_matches_serial(spark, sql_dir, tmp_path):
    sink = ParquetDirSink(str(tmp_path / "out_conc"))
    pipe = SqlFolderPipeline(
        spark,
        str(sql_dir),
        sink,
        cell_limit=10_000,
        setup=lambda s: register_views(s, SF_SMALL),
        max_concurrency=4,
    )
    report = pipe.run()
    # same outcomes as the serial run, discovery order preserved
    assert [(r.name, r.status) for r in report.results] == [
        ("big", "cell_limit"),
        ("broken", "sql_error"),
        ("top_nations", "ok"),
    ]
    assert spark.read.parquet(str(tmp_path / "out_conc" / "top_nations")).count() == 5


def test_pipeline_mysql_dialect(spark, tmp_path):
    d = tmp_path / "mysql_sql"
    d.mkdir()
    # the reference's analysts write MySQL: LIMIT off,cnt + GROUP_CONCAT +
    # %-style DATE_FORMAT all in one file
    (d / "mysql_flavored.sql").write_text(
        "SELECT o_orderstatus, GROUP_CONCAT(o_orderpriority SEPARATOR '|') AS prios, "
        "DATE_FORMAT(MIN(o_orderdate), '%Y-%m') AS first_month "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus LIMIT 1, 2"
    )
    sink = TempViewSink()
    pipe = SqlFolderPipeline(
        spark,
        str(d),
        sink,
        setup=lambda s: register_views(s, SF_SMALL),
        dialect="mysql",
    )
    report = pipe.run()
    assert [r.status for r in report.results] == ["ok"]
    rows = spark.table("mysql_flavored").collect()
    assert len(rows) == 2  # LIMIT 1,2 -> skip first status, take two
    assert all("|" in r["prios"] and len(r["first_month"]) == 7 for r in rows)


def test_example_folder_end_to_end(spark, tmp_path):
    import os

    examples = os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "analyst_sql")
    pipe = SqlFolderPipeline(
        spark,
        examples,
        ParquetDirSink(str(tmp_path / "ex_out")),
        setup=lambda s: register_views(s, SF_SMALL),
        dialect="mysql",
        max_concurrency=2,
    )
    report = pipe.run()
    assert len(report.results) >= 3
    assert all(r.status == "ok" for r in report.results)
    rev = spark.read.parquet(str(tmp_path / "ex_out" / "revenue_by_region"))
    assert rev.columns == ["region", "order_year", "revenue"] and rev.count() > 0


def test_json_sink_roundtrip(spark, tmp_path):
    from sheetsetl_spark.sinks import JsonDirSink

    register_views(spark, SF_SMALL, ("region",))
    df = spark.sql("SELECT r_regionkey, r_name FROM region")
    JsonDirSink(str(tmp_path), coalesce=1).write(df, "regions_json")
    back = spark.read.json(str(tmp_path / "regions_json"))
    assert back.count() == 5 and set(back.columns) == {"r_regionkey", "r_name"}


def test_parquet_sink_sort_by_tightens_stats(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    register_views(spark, SF_SMALL, ("orders",))
    o = spark.table("orders").repartition(4)
    ParquetDirSink(str(tmp_path), sort_by=["o_totalprice"]).write(o, "sorted")
    # sortWithinPartitions: each row group's o_totalprice range shrinks vs
    # random order whenever a file holds several row groups; at this size
    # just assert the write is lossless and the stats exist and are ordered
    files = glob.glob(str(tmp_path / "sorted" / "*.parquet"))
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        stats = meta.row_group(0).column(3).statistics  # o_totalprice
        assert stats is not None and stats.min <= stats.max
    assert spark.read.parquet(str(tmp_path / "sorted")).count() == o.count()


def test_curate_corpus_example(spark, tmp_path):
    """The end-to-end curation example runs and every funnel stage only
    shrinks the corpus; the sharded output holds exactly the survivors."""
    import sys

    sys.path.insert(0, "examples")
    from curate_corpus import curate

    report = curate(spark, SF_SMALL, str(tmp_path), n_shards=4)
    assert report["raw"] >= report["after_quality"] >= report["after_exact_dedup"]
    assert report["after_exact_dedup"] >= report["after_near_dedup"]
    assert report["after_near_dedup"] >= report["after_decontamination"] > 0
    out = spark.read.parquet(str(tmp_path / "corpus"))
    assert out.count() == report["after_decontamination"]
    assert out.select("shard_id").distinct().count() <= 4


def test_pipeline_reports_output_size(spark, tmp_path):
    """A13 parity: ok results carry a human-readable written-output size
    (the reference logs convert_size(spool bytes) per query,
    loader.py:247-249)."""
    from sheetsetl_spark.pipeline.runner import SqlFolderPipeline
    from sheetsetl_spark.sinks.local import CsvDirSink

    src = tmp_path / "sql"
    src.mkdir()
    (src / "tiny.sql").write_text("SELECT 1 AS a, 2 AS b")
    sink_root = tmp_path / "out"
    report = SqlFolderPipeline(
        spark, str(src), CsvDirSink(str(sink_root), coalesce=1)
    ).run()
    (res,) = report.results
    assert res.status == "ok"
    assert res.size_pretty is not None and res.size_pretty.endswith("B")


def test_human_bytes_matches_reference_shape():
    from sheetsetl_spark.sinks.base import human_bytes

    # matches the reference's convert_size exactly (loader.py:61-75):
    # round(size/1024**i, 2) keeps the float repr, so '512.0 B'
    assert human_bytes(0) == "0B"
    assert human_bytes(512) == "512.0 B"
    assert human_bytes(2048) == "2.0 KB"
    assert human_bytes(5 * 1024**2 + 524288) == "5.5 MB"


# DuckDB twins for every file in examples/analyst_sql — the corpus gate:
# each analyst file must run unmodified through dialect="mysql" and match.
_ANALYST_ORACLES = {
    "order_priorities": """
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ' / ' ORDER BY o_orderpriority) AS priorities,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_orderstatus ORDER BY n_orders DESC LIMIT 10
    """,
    "revenue_by_region": """
        SELECT r.r_name AS region, YEAR(o.o_orderdate) AS order_year,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, YEAR(o.o_orderdate) ORDER BY region, order_year
    """,
    "top_customers": """
        SELECT c_mktsegment, c_name, c_acctbal FROM (
          SELECT c_mktsegment, c_name, c_acctbal,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY c_acctbal DESC, c_custkey) AS rn
          FROM customer) t
        WHERE rn <= 3
    """,
    "recent_orders": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1995-01-01' + INTERVAL 3 MONTH
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "monthly_orders": """
        SELECT strftime(o_orderdate, '%Y-%m') AS ym, COUNT(*) AS n_orders
        FROM orders GROUP BY strftime(o_orderdate, '%Y-%m')
        ORDER BY ym LIMIT 10 OFFSET 5
    """,
    # --- round-5 corpus widening: the idioms a real MySQL analyst folder
    # carries (preambles, hints, logical ||/&&, escapes, WITH ROLLUP...)
    "preamble_segment_counts": """
        SELECT c_mktsegment AS segment, COUNT(*) AS n_customers,
               CASE WHEN COUNT(*) > 100 THEN 'big' ELSE 'small' END AS size_class
        FROM customer GROUP BY c_mktsegment ORDER BY segment
    """,
    "hinted_join": """
        SELECT o.o_orderstatus, COUNT(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal > 0
        GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
    "logical_ops": """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE (o_orderstatus = 'F' OR o_orderstatus = 'O') AND o_totalprice > 1000
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "escaped_strings": """
        SELECT COUNT(*) AS n_docs FROM documents
        WHERE text NOT LIKE 'it''s a trap -- LIMIT 1, 2%'
    """,
    "backlog_today": """
        SELECT o_orderstatus, COUNT(*) AS n_orders
        FROM orders WHERE o_orderdate <= CURRENT_DATE
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "no_cache_summary": """
        SELECT l_returnflag, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "double_quoted": """
        SELECT c_nationkey, COUNT(*) AS n
        FROM customer WHERE c_mktsegment = 'BUILDING'
        GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "date_math": """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-06-01' - INTERVAL 90 DAY
          AND o_orderdate < TIMESTAMP '1996-06-01' + INTERVAL 1 WEEK
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "null_safe": """
        SELECT COUNT(*) AS n_building FROM customer
        WHERE c_mktsegment IS NOT DISTINCT FROM 'BUILDING'
    """,
    "name_suffixes": """
        SELECT list_extract(string_split(c_name, '#'), -1) AS name_suffix,
               COUNT(*) AS n
        FROM customer
        GROUP BY 1 ORDER BY name_suffix LIMIT 10
    """,
    "status_rollup": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus, o_orderpriority
    """,
    "nation_customer_counts": """
        SELECT n_name, COALESCE(t.n_cust, 0) AS n_customers
        FROM nation
        LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_cust
                   FROM customer GROUP BY c_nationkey) t
          ON n_nationkey = t.c_nationkey
        ORDER BY n_name
    """,
    # --- round-6 corpus widening: constant @var assignment chains
    # (SET @x := const; ... SELECT ... @x ...) now translate by inlining
    "var_cutoff": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "var_chain": """
        SELECT o_orderstatus, COUNT(*) AS n
        FROM orders WHERE o_totalprice > 90000
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "var_multi": """
        SELECT p_size, COUNT(*) AS n
        FROM part WHERE p_size BETWEEN 5 AND 15
        GROUP BY p_size ORDER BY p_size
    """,
    "var_reassign": """
        SELECT COUNT(*) AS n_customers FROM customer
        WHERE c_mktsegment = 'BUILDING'
    """,
    "mysql_idioms": """
        SELECT o_orderkey % 4 AS bucket, COUNT(*) AS n
        FROM orders WHERE o_orderstatus = 'O'
        GROUP BY 1 ORDER BY bucket
    """,
    "string_splice": """
        SELECT CONCAT(SUBSTRING(o_orderpriority, 1, 1), '~',
                      SUBSTRING(o_orderpriority, 3)) AS spliced,
               COUNT(*) AS n
        FROM orders GROUP BY 1 ORDER BY spliced
    """,
    "priority_rollcall": """
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ' > '
                          ORDER BY o_orderpriority DESC) AS priorities
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    # --- round-7: WEEK(d, mode) 0-7 + date±int (r6 verdict item 5).
    # iso_weeks checks mode 3 against DuckDB's own independent ISO
    # implementation; the mode-0/1 twins use the week-start/anchor
    # arithmetic (the C-port property test in test_functions.py is the
    # independent check of the formula itself).
    "iso_weeks": """
        SELECT CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
        GROUP BY weekofyear(o_orderdate) ORDER BY iso_week
    """,
    "sunday_weeks": """
        SELECT CAST(CASE WHEN o_orderdate < fs THEN 0
                         ELSE datediff('day', fs, o_orderdate) // 7 + 1 END AS INT) AS wk,
               COUNT(*) AS n_orders
        FROM (SELECT CAST(o_orderdate AS DATE) AS o_orderdate,
                     CAST(date_trunc('year', o_orderdate) AS DATE)
                       + CAST((7 - isodow(date_trunc('year', o_orderdate))) % 7 AS INT) AS fs
              FROM orders
              WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-03-01') t
        GROUP BY 1 ORDER BY wk
    """,
    "monday_weeks": """
        SELECT CAST(CASE WHEN ws < a THEN 0
                         ELSE datediff('day', a, ws) // 7 + 1 END AS INT) AS wk_m1,
               COUNT(*) AS n_orders
        FROM (SELECT d - CAST(isodow(d) - 1 AS INT) AS ws,
                     (j1 + 3) - CAST(isodow(j1 + 3) - 1 AS INT) AS a
              FROM (SELECT CAST(o_orderdate AS DATE) AS d,
                           CAST(date_trunc('year', o_orderdate) AS DATE) AS j1
                    FROM orders
                    WHERE o_orderdate >= '1994-01-01'
                      AND o_orderdate < '1994-03-01') raw) t
        GROUP BY 1 ORDER BY wk_m1
    """,
    "iso_yearweek": """
        SELECT CAST(yearweek(o_orderdate) AS INT) AS iso_yw,
               COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= '1994-12-01' AND o_orderdate < '1995-02-01'
        GROUP BY yearweek(o_orderdate) ORDER BY iso_yw
    """,
    "date_plus_int": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= DATE '1996-06-01' - 90
          AND o_orderdate < DATE '1996-06-01' + 7
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    # MySQL TIMESTAMPDIFF counts COMPLETE months (not boundary
    # crossings, which is what DuckDB's date_diff does) -- the twin
    # re-derives it from calendar arithmetic: base month delta, minus
    # one when the start day-of-month exceeds the end's (day 1 here).
    "timestamp_functions": """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CASE WHEN (1998 * 12 + 1)
                          - (YEAR(o_orderdate) * 12 + MONTH(o_orderdate))
                          - (CASE WHEN DAY(o_orderdate) > 1 THEN 1 ELSE 0 END)
                        >= 12 THEN 1 ELSE 0 END) AS BIGINT) AS older_than_year,
               CAST(MAX(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31'))
                 AS INT) AS max_age_days
        FROM orders
        WHERE o_orderdate < TIMESTAMP '1998-02-01 00:00:00'
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
}


@pytest.mark.slow  # randomized/corpus sweep - full-suite re-verification
def test_analyst_corpus_mysql_dialect_matches_oracle(spark, tmp_path):
    """VERDICT r3 item 4: the whole examples/analyst_sql corpus (Spark-
    and MySQL-flavored files mixed, as a real analyst folder would be)
    runs unmodified through SqlFolderPipeline(dialect='mysql'), and every
    output matches its DuckDB twin."""
    from tests.oracle import compare

    sink = ParquetDirSink(str(tmp_path / "corpus_out"))
    report = SqlFolderPipeline(
        spark,
        "examples/analyst_sql",
        sink,
        setup=lambda s: register_views(s, SF_SMALL),
        dialect="mysql",
    ).run()
    assert sorted(r.name for r in report.results) == sorted(_ANALYST_ORACLES)
    assert [r.status for r in report.results] == ["ok"] * len(_ANALYST_ORACLES)
    for name, oracle in _ANALYST_ORACLES.items():
        compare(spark.read.parquet(sink.path_for(name)), oracle, SF_SMALL)


# Every file in examples/analyst_sql_rejects carries a construct whose
# MySQL semantics Spark cannot faithfully reproduce: the pipeline must
# record sql_error (never a silently-different answer, never an abort)
# with a message naming the offending construct — the reference's
# per-file error-isolation contract (loader.py:232-234) with BETTER
# errors than the raw MySQL syntax error it logs.
_REJECT_REASONS = {
    "seeded_rand": "RAND(seed)",
    "user_var": "@total_orders",
    "set_timezone": "time_zone",
    "two_selects": "2 result statements",
    "outfile": "INTO OUTFILE",
    "server_state": "DATABASE()",
    "call_proc": "stored procedure",
    "calc_found_rows": "SQL_CALC_FOUND_ROWS",
    "insert_dml": "not a read-only query",
    "create_ddl": "not a read-only query",
    # mutation-in-SELECT and table-reading SETs stay rejected even now
    # that constant @var chains translate
    "var_select_assign": "inside a SELECT",
    "var_set_subquery": "reads tables at assignment",
}


def test_analyst_corpus_rejects_are_actionable(spark, tmp_path):
    sink = ParquetDirSink(str(tmp_path / "rejects_out"))
    report = SqlFolderPipeline(
        spark,
        "examples/analyst_sql_rejects",
        sink,
        setup=lambda s: register_views(s, SF_SMALL),
        dialect="mysql",
    ).run()
    assert sorted(r.name for r in report.results) == sorted(_REJECT_REASONS)
    for res in report.results:
        assert res.status == "sql_error", (res.name, res.status)
        assert _REJECT_REASONS[res.name] in (res.error or ""), (
            res.name,
            res.error,
        )


class _RacingDrive(FakeDrive):
    """A racing writer claims ``race_name`` right AFTER the sink's folder
    listing completes (between list and create) — the classic
    list-then-create race."""

    def __init__(self, race_name):
        super().__init__()
        self.race_name = race_name
        self._raced = False

    def list_files(self, folder_id, page_token=None):
        page, nxt = super().list_files(folder_id, page_token)
        if not self._raced and nxt is None:
            from sheetsetl_spark.sinks.sheets import SPREADSHEET_MIME

            self._raced = True
            rid = "race1"
            self.files[rid] = {
                "id": rid, "name": self.race_name,
                "mimeType": SPREADSHEET_MIME, "parents": [folder_id],
            }
            self.payloads[rid] = b"racer"
        return page, nxt


def test_sheets_sink_create_race(spark):
    """VERDICT r3 item 7: a name claimed between list and create yields a
    duplicate sheet — the reference's own race behavior (its list at
    loader.py:160-167 is equally unguarded) — and the NEXT upsert
    converges: it updates one existing sheet in place, never a third."""
    from sheetsetl_spark.sinks.sheets import SPREADSHEET_MIME

    register_views(spark, SF_SMALL, ("region",))
    df = spark.table("region")
    drive = _RacingDrive("regions")
    sink = GoogleSheetsSink("folder1", client=drive)
    sink.write(df, "regions")  # racer wins the name mid-write
    sheets = [f for f in drive.files.values() if f["mimeType"] == SPREADSHEET_MIME]
    assert len(sheets) == 2  # duplicate created, upload completed anyway

    sink.write(df.limit(3), "regions")  # upsert now finds matches: update
    sheets = [f for f in drive.files.values() if f["mimeType"] == SPREADSHEET_MIME]
    assert len(sheets) == 2  # no third file
    updated = [p for p in drive.payloads.values() if p != b"racer"]
    assert any(len(p.decode().splitlines()) == 4 for p in updated)  # header+3


class _NameFailDrive(FakeDrive):
    """Transport outage scoped to one output name (every upload attempt
    for it fails)."""

    def __init__(self, fail_name):
        super().__init__()
        self.fail_name = fail_name

    def start_upload(self, metadata, file_id=None):
        from sheetsetl_spark.sinks.sheets import TransientUploadError

        if metadata.get("name") == self.fail_name:
            raise TransientUploadError(f"injected outage for {self.fail_name}")
        return super().start_upload(metadata, file_id)


def test_pipeline_sheets_sink_per_file_isolation(spark, tmp_path):
    """VERDICT r3 item 7: a Sheets transport failure aborts ONLY that
    output — the other files still upload (loader.py:184-186 contract,
    'continue' after the except)."""
    d = tmp_path / "iso_sql"
    d.mkdir()
    (d / "a.sql").write_text("SELECT r_regionkey, r_name FROM region")
    (d / "bad.sql").write_text("SELECT r_name FROM region")
    (d / "c.sql").write_text("SELECT COUNT(*) AS n FROM region")
    drive = _NameFailDrive("bad")
    report = SqlFolderPipeline(
        spark,
        str(d),
        GoogleSheetsSink("folder1", client=drive),
        setup=lambda s: register_views(s, SF_SMALL, ("region",)),
    ).run()
    by_name = {r.name: r for r in report.results}
    assert by_name["a"].status == "ok"
    assert by_name["bad"].status == "sink_error"
    assert "injected outage" in by_name["bad"].error
    assert by_name["c"].status == "ok"
    names_uploaded = {f["name"] for f in drive.files.values()}
    assert names_uploaded == {"a", "c"}


def _validate_k_not_null(name, df):
    from sheetsetl_spark.operators import quality_checks as qc
    from sheetsetl_spark.pipeline.runner import ValidationFailed

    report = qc.check_constraints(df, [qc.not_null("k")]).collect()
    failed = [r["check_name"] for r in report if not r["passed"]]
    if failed:
        raise ValidationFailed(f"{name}: failed {failed}")


def test_validate_hook_blocks_publishing(spark, tmp_path):
    """A quality-contract failure records validation_error and skips the
    sink for THAT file only; passing files still publish (the
    publish-or-block gate the reference lacks, loader.py:238-246)."""
    import os

    src = tmp_path / "sql"
    src.mkdir()
    (src / "good.sql").write_text("SELECT 1 AS k UNION ALL SELECT 2")
    (src / "bad.sql").write_text("SELECT 1 AS k UNION ALL SELECT NULL")

    sink = ParquetDirSink(str(tmp_path / "out"))
    report = SqlFolderPipeline(
        spark, str(src), sink, validate=_validate_k_not_null
    ).run()
    by_name = {r.name: r for r in report.results}
    assert by_name["good.sql"[:-4]].status == "ok"
    bad = by_name["bad"]
    assert bad.status == "validation_error"
    assert "not_null(k)" in bad.error
    # the failing result was never published
    assert os.path.exists(sink.path_for("good"))
    assert not os.path.exists(sink.path_for("bad"))


def test_validate_hook_on_a_collecting_sink(spark, tmp_path):
    """On the Sheets sink the hook sees the guard's rows: a failing file
    is never uploaded, and validating a UDF-filtered query does not run
    it again (the UDF is called once per input row)."""
    from pyspark.sql.types import BooleanType

    n = 30
    calls = spark.sparkContext.accumulator(0)

    def bump(_x):
        calls.add(1)
        return True

    spark.udf.register("bump_validated", bump, BooleanType())
    src = tmp_path / "sql"
    src.mkdir()
    (src / "bad.sql").write_text("SELECT 1 AS k UNION ALL SELECT NULL")
    (src / "good.sql").write_text(f"SELECT id AS k FROM range({n}) WHERE bump_validated(id)")
    drive = FakeDrive()
    report = SqlFolderPipeline(
        spark, str(src), GoogleSheetsSink("folder1", client=drive), validate=_validate_k_not_null
    ).run()
    by_name = {r.name: r for r in report.results}
    assert (by_name["good"].status, by_name["good"].rows) == ("ok", n)
    assert by_name["bad"].status == "validation_error"
    assert "not_null(k)" in by_name["bad"].error
    assert set(drive.sheets()) == {"good"} and {f["name"] for f in drive.files.values()} == {"good"}
    assert calls.value == n


def test_spark_dialect_rejects_dml(spark, tmp_path):
    """spark.sql() would EXECUTE an INSERT/CREATE (mutating engine state
    instead of producing a sheet) — the spark-dialect pipeline must
    reject non-queries up front with sql_error, and leading comments must
    not fool the check."""
    src = tmp_path / "sql"
    src.mkdir()
    (src / "mutate.sql").write_text("INSERT INTO t SELECT 1")
    (src / "commented.sql").write_text("-- note\nSELECT 1 AS k")
    report = SqlFolderPipeline(
        spark, str(src), ParquetDirSink(str(tmp_path / "out"))
    ).run()
    by_name = {r.name: r for r in report.results}
    assert by_name["mutate"].status == "sql_error"
    assert "not a read-only query" in by_name["mutate"].error
    assert by_name["commented"].status == "ok"


def test_cli_run_folder(spark, tmp_path, capsys):
    """`python -m sheetsetl_spark run` — the reference's cron CLI shape:
    run a folder, print the per-file report, exit 0 iff all published.
    Reuses the live session via main()'s build_session (getOrCreate)."""
    from sheetsetl_spark.__main__ import main

    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "ok_query.sql").write_text(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
    )
    (qdir / "bad_query.sql").write_text("SELECT definitely not sql !!!")
    out = tmp_path / "out"
    rc = main(
        [
            "run", str(qdir), str(out),
            "--tables", SF_SMALL, "--sink", "parquet", "--dialect", "mysql",
        ]
    )
    assert rc == 1  # one file failed -> nonzero, like a cron job should
    printed = capsys.readouterr().out
    assert "ok_query: ok rows=" in printed
    assert "bad_query: sql_error" in printed
    got = spark.read.parquet(str(out / "ok_query"))
    assert got.count() > 0 and set(got.columns) == {"o_orderstatus", "n"}


def test_cell_limit_must_be_positive(spark, tmp_path):
    """cell_limit < 1 is refused at construction, and the CLI passes
    --cell-limit through as given (0 used to become the 2M default)."""
    from sheetsetl_spark.__main__ import main

    for bad in (0, -5):
        with pytest.raises(ValueError, match="cell_limit"):
            SqlFolderPipeline(spark, str(tmp_path), TempViewSink(), cell_limit=bad)
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "one.sql").write_text("SELECT 1 AS a")
    with pytest.raises(ValueError, match="cell_limit must be >= 1, got 0"):
        main(["run", str(qdir), str(tmp_path / "out"), "--tables", SF_SMALL,
              "--cell-limit", "0"])


def test_pipeline_runtime_errors_are_per_file(spark, tmp_path):
    """A query that fails while it runs (not at analysis) records
    sql_error for that file and the run goes on (loader.py:232-234),
    whether the failing expression filters rows or is only projected."""
    d = tmp_path / "rt_sql"
    d.mkdir()
    (d / "a_good.sql").write_text("SELECT r_regionkey, r_name FROM region")
    (d / "b_late_filter.sql").write_text(
        "SELECT id FROM range(5) WHERE CASE WHEN id = 2 THEN raise_error('late') ELSE true END"
    )
    (d / "c_projected.sql").write_text(
        "SELECT id, CASE WHEN id = 2 THEN raise_error('projected') ELSE id END AS x "
        "FROM range(5)"
    )
    (d / "d_good.sql").write_text("SELECT COUNT(*) AS n FROM region")
    drive = FakeDrive()
    report = SqlFolderPipeline(
        spark,
        str(d),
        GoogleSheetsSink("folder1", client=drive),
        setup=lambda s: register_views(s, SF_SMALL, ("region",)),
    ).run()
    by_name = {r.name: r for r in report.results}
    assert [by_name[n].status for n in ("a_good", "b_late_filter", "c_projected", "d_good")] == [
        "ok", "sql_error", "sql_error", "ok",
    ]
    assert "late" in by_name["b_late_filter"].error
    assert "projected" in by_name["c_projected"].error
    assert by_name["c_projected"].rows is None
    assert set(drive.sheets()) == {"a_good", "d_good"}


def test_pipeline_runs_each_query_once(spark, tmp_path, monkeypatch):
    """The guard's collect is the query's only execution: a Python UDF in
    the WHERE clause is called once per input row, not once for the
    guard and again for the sink, and no Spark job starts between the
    guard's return and the upload."""
    import uuid

    from pyspark.sql.types import BooleanType

    from sheetsetl_spark.pipeline import runner

    sc = spark.sparkContext
    guard_group, after_group = (f"{tag}-{uuid.uuid4().hex}" for tag in ("guard", "after"))
    guard = runner.cell_count_guard

    def grouped_guard(df, name, limit):
        sc.setJobGroup(guard_group, name)
        table = guard(df, name, limit)
        sc.setJobGroup(after_group, name)
        return table

    monkeypatch.setattr(runner, "cell_count_guard", grouped_guard)
    n = 40
    calls = spark.sparkContext.accumulator(0)

    def bump(_x):
        calls.add(1)
        return True

    spark.udf.register("bump_calls", bump, BooleanType())
    d = tmp_path / "once_sql"
    d.mkdir()
    (d / "udf_filter.sql").write_text(f"SELECT id FROM range({n}) WHERE bump_calls(id)")
    drive = FakeDrive()
    try:
        report = SqlFolderPipeline(spark, str(d), GoogleSheetsSink("folder1", client=drive)).run()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert [(r.status, r.rows) for r in report.results] == [("ok", n)]
    assert calls.value == n
    assert len(drive.sheets()["udf_filter"].decode().splitlines()) == n + 1
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(guard_group)  # the counting sees the guard's job
    assert tracker.getJobIdsForGroup(after_group) == []


def test_pipeline_keeps_query_row_order(spark, tmp_path):
    """An ORDER BY ... DESC file uploads its rows in the query's order,
    across several Arrow batches of the collected result."""
    n = 25_000  # > spark.sql.execution.arrow.maxRecordsPerBatch (10,000)
    d = tmp_path / "order_sql"
    d.mkdir()
    (d / "desc.sql").write_text(
        f"SELECT id, CAST(id * 7 AS STRING) AS s FROM range({n}) ORDER BY id DESC"
    )
    drive = FakeDrive()
    report = SqlFolderPipeline(spark, str(d), GoogleSheetsSink("folder1", client=drive)).run()
    assert [r.status for r in report.results] == ["ok"]
    lines = drive.sheets()["desc"].decode().splitlines()
    assert lines[0] == "id,s"
    assert lines[1:] == [f"{i},{i * 7}" for i in range(n - 1, -1, -1)]


def test_pipeline_concurrent_uploads_match_serial(spark, tmp_path):
    """max_concurrency=2 publishes byte-identical sheets to a serial run."""
    d = tmp_path / "conc_sql"
    d.mkdir()
    (d / "nations.sql").write_text("SELECT * FROM nation ORDER BY n_nationkey DESC")
    (d / "regions.sql").write_text("SELECT r_name, r_regionkey FROM region")
    (d / "status.sql").write_text(
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    (d / "dates.sql").write_text(
        "SELECT o_orderdate, o_orderkey FROM orders ORDER BY o_orderdate, o_orderkey LIMIT 300"
    )
    payloads = []
    for conc in (1, 2):
        drive = FakeDrive()
        report = SqlFolderPipeline(
            spark,
            str(d),
            GoogleSheetsSink("folder1", client=drive),
            setup=lambda s: register_views(s, SF_SMALL, ("nation", "region", "orders")),
            max_concurrency=conc,
        ).run()
        assert [r.status for r in report.results] == ["ok"] * 4
        payloads.append(drive.sheets())
    assert payloads[0] == payloads[1] and len(payloads[0]) == 4


def test_executor_side_sinks_write_the_query_frame(spark, tmp_path, monkeypatch):
    """Sinks that write from the executors never get a collected result:
    the runner only counts, and the sink writes the query's own frame.
    Runtime errors stay per file: one in a filter fails the count
    (sql_error); one only in a projected column fails the write
    (sink_error). A temp view keeps column types Arrow cannot carry."""
    from sheetsetl_spark.pipeline import runner

    def no_collect(*_a, **_k):
        raise AssertionError("an executor-side sink must not collect")

    monkeypatch.setattr(runner, "cell_count_guard", no_collect)
    d = tmp_path / "dir_sql"
    d.mkdir()
    (d / "a_good.sql").write_text("SELECT r_regionkey, r_name FROM region")
    (d / "b_late_filter.sql").write_text(
        "SELECT id FROM range(5) WHERE CASE WHEN id = 2 THEN raise_error('late') ELSE true END"
    )
    (d / "c_projected.sql").write_text(
        "SELECT id, CASE WHEN id = 2 THEN raise_error('projected') ELSE id END AS x "
        "FROM range(5)"
    )
    (d / "d_good.sql").write_text("SELECT COUNT(*) AS n FROM region")
    out = tmp_path / "out"
    report = SqlFolderPipeline(
        spark,
        str(d),
        CsvDirSink(str(out)),
        setup=lambda s: register_views(s, SF_SMALL, ("region",)),
    ).run()
    by_name = {r.name: r for r in report.results}
    assert [(by_name[n].status, by_name[n].rows) for n in sorted(by_name)] == [
        ("ok", 5), ("sql_error", None), ("sink_error", 5), ("ok", 1),
    ]
    assert "late" in by_name["b_late_filter"].error
    assert "projected" in by_name["c_projected"].error
    back = spark.read.option("header", True).csv(str(out / "a_good"))
    assert back.columns == ["r_regionkey", "r_name"] and back.count() == 5

    v = tmp_path / "view_sql"
    v.mkdir()
    (v / "months.sql").write_text("SELECT INTERVAL '14' MONTH AS ym, 1 AS k")
    report = SqlFolderPipeline(spark, str(v), TempViewSink()).run()
    assert [(r.status, r.rows) for r in report.results] == [("ok", 1)]
    assert spark.table("months").selectExpr("CAST(ym AS STRING) AS s").first().s == (
        "INTERVAL '14' MONTH"
    )


_PARITY_SQL = {
    "scalars": "SELECT * FROM VALUES "
    "(1, CAST(2 AS BIGINT), CAST(1.5 AS FLOAT), 2.25D, 'a,\"b\"', true, CAST(3 AS TINYINT)), "
    "(-7, NULL, CAST('NaN' AS FLOAT), CAST('NaN' AS DOUBLE), NULL, NULL, NULL), "
    "(NULL, 9, NULL, NULL, '', false, CAST(-1 AS TINYINT)) AS t(i, l, f, d, s, b, t)",
    "temporal": "SELECT * FROM VALUES "
    "(DATE'2024-03-10', TIMESTAMP'2024-03-10 02:30:00', TIMESTAMP_NTZ'2024-03-10 02:30:00', "
    "INTERVAL '1 02:03:04.5' DAY TO SECOND), "
    "(DATE'1899-12-31', TIMESTAMP'1899-12-31 23:59:59.123456', "
    "TIMESTAMP_NTZ'2024-11-03 01:30:00', INTERVAL '-0 00:00:01' DAY TO SECOND), "
    "(NULL, NULL, NULL, NULL) AS t(d, ts, ntz, dt)",
    "nested": "SELECT * FROM VALUES "
    "(CAST(12345.6789 AS DECIMAL(38, 10)), array(1, NULL, 3), map('a', 1, 'b', 2), "
    "named_struct('x', 1, 'y', 'z'), CAST('ab,c' AS BINARY), NULL), "
    "(NULL, NULL, NULL, named_struct('x', NULL, 'y', 'w'), NULL, NULL) AS t(dec, arr, m, st, bin, v)",
    "empty": "SELECT id, CAST(id AS STRING) AS s, DATE'2024-01-01' AS d FROM range(0)",
}


def test_sheets_payload_matches_to_pandas(spark, tmp_path):
    """The sheet published through the pipeline is byte for byte
    df.toPandas().to_csv(index=False), for every column type a sheet
    gets, under a UTC and a DST-observing session time zone."""
    d = tmp_path / "parity_sql"
    d.mkdir()
    for name, sql in _PARITY_SQL.items():
        (d / f"{name}.sql").write_text(sql)
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set(key, tz)
            drive = FakeDrive()
            report = SqlFolderPipeline(spark, str(d), GoogleSheetsSink("folder1", client=drive)).run()
            assert [r.status for r in report.results] == ["ok"] * len(_PARITY_SQL), report.results
            sheets = drive.sheets()
            for name, sql in _PARITY_SQL.items():
                expected = spark.sql(sql).toPandas().to_csv(index=False).encode()
                assert sheets[name] == expected, (tz, name)
    finally:
        spark.conf.set(key, saved)
