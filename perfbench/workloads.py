"""The benchmark's workloads.

Each workload is a closed loop with one client: items (an analyst file, a
headline query, a streaming micro-batch) run one at a time, on
``build_session()`` as shipped. A workload function takes a ``Context`` and
returns ``(setup_s, pass_walls, items, peak_rss_mb, attempted, failed)``;
its checks run after the timed region and append to ``ctx.errors``.

With tracing on, spans are recorded from here around calls into the
program's layers, by wrapping the functions and methods the pipeline looks
up (the program itself is not instrumented), and Spark's status store is
read per item through one job group per item.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request
from contextlib import ExitStack, contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from measure import RssSampler, Tracer, job_group_totals, tail_percentile
from verify import csv_rows, digest, frame_rows

HERE = os.path.dirname(os.path.abspath(__file__))

#: A frozen subset of bench.py's HEADLINE registry queries, kept small so a
#: run fits the benchmark's time budget: a relational star join, the
#: plan-heavy iterative tokenizer and the exact near-duplicate join.
HEADLINE = (
    "b20_star_join",
    "c69_bpe_train_apply",
    "c72_prefix_filter_jaccard",
)

#: Spans whose summed wall time is reported as ``<span>_s``.
SPAN_METRICS = (
    "mysql_compat.translate",
    "runner.analyze",
    "runner.guard",
    "sinks.write",
    "sinks.collect",
    "sinks.http",
    "queries.plan",
    "queries.exec",
    "streaming.batch",
)

#: Per-layer metrics every traced run records: set-up, Spark status-store
#: totals, cache residue and the run's own figures.
_COMMON_LAYER = (
    "session.first_setup_s",
    "session.build_s",
    "catalog.register_views_s",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_run_s",
    "spark.task_cpu_s",
    "spark.task_gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.core_busy_frac",
    "spark.cpu_frac",
    "cache.persisted_rdds_after",
    "peak_rss_mb",
    "item_tail_pct",
    "items",
    "failed_frac",
    "traced.wall_s",
)

ANALYST_DIRS = ("examples/analyst_sql", "examples/analyst_sql_rejects")
SETUP_REPEATS = 3
#: analyst_folder sends this many files through the pipeline before its
#: timed pass: the first file of a fresh JVM pays seconds of class loading
#: and first-use set-up that belong to set-up, not to that file.
WARMUP_FILES = 1
DRIVE_FOLDER = "reports"
#: The stream replays CORPUS_DOCS documents (a seeded sample of the table)
#: in CORPUS_DROPS drops; per-batch fixed cost dominates, so these bound the
#: run's length.
CORPUS_DOCS = 2500
CORPUS_DROPS = 2
DEDUP_THRESHOLD = 0.5
#: The history filter's minhash banding (32 hashes, 8 bands of 4) misses a
#: pair of Jaccard J with probability (1 - J**4)**8: 2e-4 at 0.9. A kept doc
#: with a partner kept earlier at or above this similarity is a failed dedup.
DEDUP_STRICT = 0.9


@dataclass
class Context:
    root: str  # checkout root
    work: str  # scratch space for this run, inside the checkout
    sf_dir: str  # staged tables
    seed: int
    seconds: float
    expected: dict
    tracer: Tracer | None
    spark: object = None
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


@contextmanager
def patched(obj, attr: str, value):
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


def _setup(ctx: Context) -> float:
    """Build the session and register the catalog's views, SETUP_REPEATS
    times (the first also starts the JVM); returns the median wall time.
    The medians of the two steps go to ``session.build_s`` and
    ``catalog.register_views_s``; the first set-up, JVM launch included, to
    ``session.first_setup_s``."""
    from sheetsetl_spark.catalog import register_views
    from sheetsetl_spark.session import build_session

    walls, builds, prepares = [], [], []
    for _ in range(SETUP_REPEATS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = build_session(app_name="perfbench")
        ctx.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        register_views(ctx.spark, ctx.sf_dir)
        t2 = time.perf_counter()
        walls.append(t2 - t0)
        builds.append(t1 - t0)
        prepares.append(t2 - t1)
    ctx.layer["session.first_setup_s"] = walls[0]
    ctx.layer["session.build_s"] = statistics.median(builds)
    ctx.layer["catalog.register_views_s"] = statistics.median(prepares)
    return statistics.median(walls)


class _Items:
    """Per-item latencies, job groups and (traced) cache residue."""

    def __init__(self, ctx: Context, prefix: str = "pb"):
        self.ctx = ctx
        self.prefix = prefix  # job groups of separate _Items must not share names
        self.latency: list[float] = []
        self.groups: list[str] = []
        self.persisted_after: list[int] = []

    @contextmanager
    def item(self, name: str):
        ctx = self.ctx
        group = f"{self.prefix}-{len(self.groups)}"
        self.groups.append(group)
        ctx.spark.sparkContext.setJobGroup(group, name)
        if ctx.tracer:
            ctx.tracer.trace_id = group
        t0 = time.perf_counter()
        with ctx.span("item"):
            yield
        self.latency.append(time.perf_counter() - t0)
        if ctx.tracer:
            self.persisted_after.append(ctx.spark.sparkContext._jsc.getPersistentRDDs().size())


def _spark_layer(ctx: Context, groups: list[str], wall_s: float) -> None:
    """Status-store totals over the items' job groups (traced runs)."""
    tot: dict[str, float] = {}
    for g in groups:
        for k, v in job_group_totals(ctx.spark, g).items():
            tot[k] = tot.get(k, 0) + v
    if not tot.get("spark.jobs"):
        return  # no job in any group: leave the spark.* figures unrecorded
    cores = ctx.spark.sparkContext.defaultParallelism
    tot["spark.core_busy_frac"] = tot["spark.task_run_s"] / (wall_s * cores)
    tot["spark.cpu_frac"] = tot["spark.task_cpu_s"] / tot["spark.task_run_s"] if tot["spark.task_run_s"] else 0.0
    ctx.layer.update(tot)


def _timed_passes(ctx: Context, one_pass) -> tuple[list[float], float | None]:
    """Run whole passes until ``ctx.seconds`` have elapsed (at least one);
    returns the pass wall times and, traced, the peak RSS in MiB."""
    walls = []
    # peak RSS is a per-layer figure: sample it only in traced runs, so the
    # sampler's thread takes no CPU from the untraced passes
    with RssSampler() if ctx.tracer else nullcontext() as rss:
        start = time.perf_counter()
        while not walls or time.perf_counter() - start < ctx.seconds:
            t0 = time.perf_counter()
            one_pass(len(walls))
            walls.append(time.perf_counter() - t0)
    return walls, rss.peak_bytes / 2**20 if rss else None


def summarize(ctx: Context, setup_s: float, walls: list[float], items: _Items, peak_mb: float | None) -> dict:
    """End-to-end metrics as ``name -> (value, unit)``; per-layer values go
    to ``ctx.layer``."""
    pct, tail = tail_percentile(items.latency)
    e2e = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "item_p50_s": (statistics.median(items.latency), "s"),
        "item_tail_s": (tail, "s"),
    }
    ctx.layer["item_tail_pct"] = pct
    ctx.layer["items"] = len(items.latency)
    ctx.layer["traced.wall_s"] = statistics.median(walls)
    if ctx.tracer:
        ctx.layer["peak_rss_mb"] = peak_mb
        ctx.layer["cache.persisted_rdds_after"] = max(items.persisted_after, default=0)
        for span in SPAN_METRICS:
            # a span never entered is left unrecorded, not reported as 0 s
            if ctx.tracer.count(span):
                ctx.layer[span + "_s"] = ctx.tracer.totals(span)
    return e2e


# --------------------------------------------------------------------------
# analyst_folder


class DriveServer:
    """The fake Drive server in its own process on loopback."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "drive_server.py")],
            stdout=subprocess.PIPE,
            text=True,
        )
        line = self.proc.stdout.readline().split()
        if line[:1] != ["PORT"]:
            self.close()
            raise RuntimeError("fake Drive server did not start")
        self.base = f"http://127.0.0.1:{line[1]}"

    def call(self, path: str, body: dict | None = None):
        data = json.dumps(body).encode() if body is not None else None
        req = urllib.request.Request(self.base + path, data=data, method="POST" if data else "GET")
        with urllib.request.urlopen(req, timeout=30) as resp:
            raw = resp.read()
        return raw if path.startswith("/drive/") else json.loads(raw)

    def close(self):
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


def analyst_folder(ctx: Context):
    from sheetsetl_spark.functions import mysql_compat
    from sheetsetl_spark.pipeline import runner
    from sheetsetl_spark.pipeline.runner import SqlFolderPipeline, discover_sql_files
    from sheetsetl_spark.sinks.drive_http import HttpDriveClient
    from sheetsetl_spark.sinks.sheets import GoogleSheetsSink

    folder = os.path.join(ctx.work, "analyst_folder")
    os.makedirs(folder)
    for d in ANALYST_DIRS:
        for f in os.listdir(os.path.join(ctx.root, d)):
            if f.endswith(".sql"):
                shutil.copy(os.path.join(ctx.root, d, f), folder)
    # Files run in name order, as the pipeline lists them, for every seed: in
    # a cold pass a file's latency depends on its position, because the JVM
    # compiles hot code during the first files, so a seeded order would move
    # that cost between files and make item_p50_s and item_tail_s depend on
    # the seed.
    files = discover_sql_files(folder)
    expected = ctx.expected["analyst"]
    missing = {qf.name for qf in files} - set(expected) - set(ctx.expected["analyst_rejects"])
    if missing:
        raise RuntimeError(f"no expectation for analyst files {sorted(missing)}")
    listing = [qf for qf in files if qf.name in expected][:WARMUP_FILES]

    setup_s = _setup(ctx)
    spark = ctx.spark
    server = DriveServer()
    try:
        # an earlier run published every sheet; this pass updates in place
        server.call(
            "/__bench/seed",
            {"folder": DRIVE_FOLDER, "names": sorted(expected)},
        )
        before = {f["name"]: f["id"] for f in server.call("/__bench/files")}
        client = HttpDriveClient(server.base, token="perfbench")
        sink = GoogleSheetsSink(DRIVE_FOLDER, client=client)
        pipeline = SqlFolderPipeline(spark, folder, sink, dialect="mysql")
        items = _Items(ctx, "warm")
        results = []
        run_one = pipeline._run_one

        def timed_run_one(qf):
            with items.item(qf.name):
                res = run_one(qf)
            results.append(res)
            return res

        with ExitStack() as stack:
            stack.enter_context(patched(runner, "discover_sql_files", lambda _d: list(listing)))
            stack.enter_context(patched(pipeline, "_run_one", timed_run_one))
            if ctx.tracer:
                _trace_analyst(ctx, stack, runner, mysql_compat, sink, client)
            # the warm-up, counted in setup_s; then the timed pass
            t0 = time.perf_counter()
            pipeline.run()
            ctx.layer["warmup_s"] = time.perf_counter() - t0
            setup_s += ctx.layer["warmup_s"]
            listing = files
            items = _Items(ctx)
            results.clear()
            if ctx.tracer:
                ctx.tracer.spans.clear()
            before_stats = server.call("/__bench/stats")
            walls, peak_mb = _timed_passes(ctx, lambda _i: pipeline.run())
        stats = server.call("/__bench/stats")
        ctx.layer["sinks.http_requests"] = stats["requests"] - before_stats["requests"]
        ctx.layer["sinks.bytes_uploaded"] = stats["bytes_uploaded"] - before_stats["bytes_uploaded"]
        if ctx.tracer:
            _spark_layer(ctx, items.groups + [g + "-guard" for g in items.groups], statistics.median(walls))
            guard_jobs = sum(
                len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(g + "-guard"))
                for g in items.groups
            )
            if guard_jobs:
                ctx.layer["runner.guard_jobs"] = guard_jobs

        # checks, outside the timed region
        after = {f["name"]: f["id"] for f in server.call("/__bench/files")}
        if after != before:
            ctx.errors.append("the folder's file set changed: a sheet was created instead of updated")
        failed = sum(not _check_analyst(ctx, res, server, after) for res in results)
    finally:
        server.close()
    return setup_s, walls, items, peak_mb, len(results), failed


def _check_analyst(ctx: Context, res, server: DriveServer, ids: dict) -> bool:
    if res.name in ctx.expected["analyst_rejects"]:
        if res.status != "sql_error":
            ctx.errors.append(f"{res.name}: status {res.status}, expected sql_error")
            return False
        return True
    if res.status != "ok":
        ctx.errors.append(f"{res.name}: status {res.status}: {res.error}")
        return False
    got = digest(csv_rows(server.call(f"/drive/v3/files/{ids[res.name]}?alt=media")))
    if got != ctx.expected["analyst"][res.name]:
        ctx.errors.append(f"{res.name}: sheet {got} != expected {ctx.expected['analyst'][res.name]}")
        return False
    return True


def _trace_analyst(ctx, stack, runner, mysql_compat, sink, client):
    tr = ctx.tracer
    sc = ctx.spark.sparkContext
    guard = runner.cell_count_guard

    def traced_guard(df, name, limit):
        group = tr.trace_id
        sc.setJobGroup(group + "-guard", name)
        try:
            with tr.span("runner.guard"):
                return guard(df, name, limit)
        finally:
            sc.setJobGroup(group, name)

    stack.enter_context(patched(runner, "cell_count_guard", traced_guard))
    stack.enter_context(
        patched(mysql_compat, "mysql_file_to_spark_sql", tr.wrap("mysql_compat.translate", mysql_compat.mysql_file_to_spark_sql))
    )
    stack.enter_context(patched(ctx.spark, "sql", tr.wrap("runner.analyze", ctx.spark.sql)))
    stack.enter_context(patched(sink, "write", tr.wrap("sinks.write", sink.write)))
    stack.enter_context(patched(sink, "_to_csv_bytes", tr.wrap("sinks.collect", sink._to_csv_bytes)))
    for m in ("list_files", "start_upload", "upload_chunk"):
        stack.enter_context(patched(client, m, tr.wrap("sinks.http", getattr(client, m))))


# --------------------------------------------------------------------------
# engine: headline registry queries, then a streaming near-dup ingest


def engine(ctx: Context):
    from sheetsetl_spark.queries import QUERIES
    from sheetsetl_spark.streaming import DedupIngestForeachBatch

    drops_dir, drop_ids = _stage_drops(ctx)
    setup_s = _setup(ctx)
    spark = ctx.spark
    items = _Items(ctx)
    outputs: dict = {}
    progress: list[dict] = []
    history = ""

    def one_pass(i):
        nonlocal history
        # A fixed query order: in a fresh process the first query pays most
        # of the JVM's warm-up, so a seeded order would move that cost
        # between items and make item_p50 depend on the seed.
        for name in HEADLINE:
            with items.item(name):
                with ctx.span("queries.plan"):
                    df = QUERIES[name](spark, ctx.sf_dir)
                with ctx.span("queries.exec"):
                    table = df.toArrow()
            ctx.layer[f"query.{name}.wall_s"] = items.latency[-1]
            outputs.setdefault(name, table)

        history = os.path.join(ctx.work, f"history-{i}")
        ingest = DedupIngestForeachBatch(history, threshold=DEDUP_THRESHOLD)

        def on_batch(batch_df, batch_id):
            if ctx.tracer:
                ctx.tracer.trace_id = f"stream-{i}/batch-{batch_id}"
            with ctx.span("streaming.batch"):
                ingest(batch_df, batch_id)

        query = (
            spark.readStream.schema(spark.read.parquet(drops_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops_dir)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(ctx.work, f"checkpoint-{i}"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
        # one item per micro-batch: its trigger's wall time as Spark measured it
        items.latency += [p["durationMs"]["triggerExecution"] / 1000 for p in batches]
        items.groups.append(str(query.runId))  # Spark's job group for the stream's jobs
        progress.extend(batches)

    walls, peak_mb = _timed_passes(ctx, one_pass)
    dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / 1000  # noqa: E731
    ctx.layer["streaming.trigger_overhead_s"] = dur("triggerExecution") - dur("addBatch")
    ctx.layer["streaming.planning_s"] = dur("queryPlanning")
    ctx.layer["streaming.commit_s"] = dur("walCommit") + dur("commitOffsets")
    ctx.layer["streaming.history_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(history) for f in fs if f.endswith(".parquet")
    )
    if ctx.tracer:
        _spark_layer(ctx, items.groups, statistics.median(walls))

    # checks, outside the timed region
    failed = sum(not _check_headline(ctx, name, outputs[name]) for name in HEADLINE)
    kept = _read_history(history)
    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"), columns=["doc_id", "text"]).to_pydict()
    failed += _check_ingest(ctx, drop_ids, kept, dict(zip(docs["doc_id"], docs["text"])))
    ctx.layer["streaming.kept_frac"] = len(kept["doc_id"]) / CORPUS_DOCS
    if len(progress) != CORPUS_DROPS * len(walls):
        ctx.errors.append(f"{len(progress)} non-empty micro-batches, expected {CORPUS_DROPS * len(walls)}")
    return setup_s, walls, items, peak_mb, len(items.latency), failed


def _check_headline(ctx: Context, name: str, table) -> bool:
    got = digest(frame_rows(table.to_pandas()))
    if got != ctx.expected["headline"][name]:
        ctx.errors.append(f"{name}: output {got} != expected {ctx.expected['headline'][name]}")
        return False
    return True


def _stage_drops(ctx: Context) -> tuple[str, list[list[int]]]:
    """A seeded sample of CORPUS_DOCS documents, shuffled into CORPUS_DROPS
    parquet drops, oldest first (the file source replays them in that
    order)."""
    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"))
    drops_dir = os.path.join(ctx.work, "drops")
    os.makedirs(drops_dir)
    perm = np.random.default_rng(ctx.seed).permutation(docs.num_rows)[:CORPUS_DOCS]
    ids = []
    base = time.time() - 3600
    for k, part in enumerate(np.array_split(perm, CORPUS_DROPS)):
        path = os.path.join(drops_dir, f"drop-{k:03d}.parquet")
        chunk = docs.take(part)
        pq.write_table(chunk, path)
        os.utime(path, (base + k, base + k))
        ids.append(chunk.column("doc_id").to_pylist())
    return drops_dir, ids


def _read_history(history: str) -> dict[str, list[int]]:
    """doc ids and batch ids of the history parquet (partitioned by
    ``__batch_id``, a directory name pyarrow's dataset reader skips)."""
    out: dict[str, list[int]] = {"doc_id": [], "__batch_id": []}
    for part in sorted(os.listdir(history)):
        if not part.startswith("__batch_id="):
            continue
        batch = int(part.split("=", 1)[1])
        for f in sorted(os.listdir(os.path.join(history, part))):
            if f.endswith(".parquet"):
                ids = pq.read_table(os.path.join(history, part, f), columns=["doc_id"]).column(0).to_pylist()
                out["doc_id"] += ids
                out["__batch_id"] += [batch] * len(ids)
    return out


def _shingles(text: str, n: int = 3) -> frozenset:
    w = text.split(" ")
    return frozenset(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))


def _check_ingest(ctx: Context, drop_ids: list[list[int]], kept: dict, texts: dict) -> int:
    """Invariants of the last pass; returns the number of failed batches.

    kept + dropped = input, and no id is kept twice. Every dropped doc has a
    partner with exact word-3-shingle Jaccard >= the threshold that was kept
    in an earlier batch or is a same-batch doc with a smaller id. Conversely
    no kept doc has a same-batch partner with a smaller id at >= the
    threshold (the batch-internal pass is exact), nor a partner kept in an
    earlier batch at >= DEDUP_STRICT (the history pass finds candidates by
    minhash banding, so below that only most pairs are found)."""
    kept_ids = kept["doc_id"]
    bad_batches: set[int] = set()
    if len(set(kept_ids)) != len(kept_ids):
        ctx.errors.append("history holds a doc id twice")
        bad_batches.add(-1)
    batch_of = {d: b for b, ids in enumerate(drop_ids) for d in ids}
    kept_batch = dict(zip(kept_ids, kept["__batch_id"]))
    if not set(kept_ids) <= set(batch_of):
        ctx.errors.append("history holds ids that were never ingested")
        bad_batches.add(-1)
    sh = {d: _shingles(texts[d]) for d in batch_of}
    index: dict[str, set[int]] = {}
    for d, s in sh.items():
        for g in s:
            index.setdefault(g, set()).add(d)

    def jaccard(d: int, p: int) -> float:
        inter = len(sh[d] & sh[p])
        return round(inter / (len(sh[d]) + len(sh[p]) - inter), 6)

    for d, b in batch_of.items():
        partners = set().union(*(index[g] for g in sh[d])) - {d} if sh[d] else set()
        # (partner, Jaccard) pairs a doc of this batch must yield to
        earlier = [(p, jaccard(d, p)) for p in partners if p in kept_batch and batch_of[p] < b]
        same = [(p, jaccard(d, p)) for p in partners if batch_of[p] == b and p < d]
        if d in kept_batch:
            if kept_batch[d] != b:
                ctx.errors.append(f"doc {d} kept under batch {kept_batch[d]}, ingested in {b}")
                bad_batches.add(b)
            blockers = [(p, j) for p, j in same if j >= DEDUP_THRESHOLD]
            blockers += [(p, j) for p, j in earlier if j >= DEDUP_STRICT]
            if blockers:
                ctx.errors.append(f"doc {d} kept in batch {b} despite near-duplicates (doc, Jaccard) {blockers}")
                bad_batches.add(b)
        elif not any(j >= DEDUP_THRESHOLD for _, j in earlier + same):
            ctx.errors.append(f"doc {d} dropped in batch {b} without a near-duplicate partner")
            bad_batches.add(b)
    return len(bad_batches)


WORKLOADS = {
    "analyst_folder": analyst_folder,
    "engine": engine,
}

#: The per-layer metrics each workload measures. A traced run fails when
#: one of them was not recorded (a span never entered, an empty job group);
#: the layers a workload does not drive are outside its list.
LAYER_METRICS = {
    "analyst_folder": _COMMON_LAYER
    + (
        "warmup_s",
        "mysql_compat.translate_s",
        "runner.analyze_s",
        "runner.guard_s",
        "runner.guard_jobs",
        "sinks.write_s",
        "sinks.collect_s",
        "sinks.http_s",
        "sinks.http_requests",
        "sinks.bytes_uploaded",
    ),
    "engine": _COMMON_LAYER
    + ("queries.plan_s", "queries.exec_s")
    + tuple(f"query.{name}.wall_s" for name in HEADLINE)
    + (
        "streaming.batch_s",
        "streaming.trigger_overhead_s",
        "streaming.planning_s",
        "streaming.commit_s",
        "streaming.history_bytes",
        "streaming.kept_frac",
    ),
}
