"""Structured Streaming tier: the streaming forms must agree with their
batch twins (the oracle-checked queries), and the foreachBatch upsert must
behave like the reference's in-place refresh."""

from __future__ import annotations

import pytest

from sheetsetl_spark.catalog import load_table
from sheetsetl_spark.queries import QUERIES
from sheetsetl_spark.sinks import ParquetDirSink
from sheetsetl_spark.streaming import (
    UpsertForeachBatch,
    dedup_stream,
    read_event_stream,
    sessionized_counts,
    windowed_counts,
)
from tests.conftest import SF_SMALL


# Whole-module slow marker (streaming soak: real micro-batch queries with checkpoints):
# the fast gate (-m 'not slow') still covers every oracle once at
# sf0.001 via test_oracle_queries.py.
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def event_input(spark, tmp_path_factory):
    """Stage the events fixture as streaming input files (two chunks)."""
    d = tmp_path_factory.mktemp("stream_in")
    ev = load_table(spark, SF_SMALL, "events")
    ev.filter("event_id % 2 = 0").coalesce(1).write.parquet(str(d / "chunk_a"))
    ev.filter("event_id % 2 = 1").coalesce(1).write.parquet(str(d / "chunk_b"))
    # flatten: move part files into the input root so the file source sees them
    import glob
    import shutil

    root = tmp_path_factory.mktemp("stream_root")
    for i, part in enumerate(sorted(glob.glob(str(d / "chunk_*" / "*.parquet")))):
        shutil.copy(part, root / f"batch_{i}.parquet")
    return str(root)


def _run_stream(spark, out_df, tmp_path, mode: str, sink_fn=None):
    q = out_df.writeStream.outputMode(mode).option(
        "checkpointLocation", str(tmp_path / "chk")
    )
    if sink_fn is not None:
        q = q.foreachBatch(sink_fn)
        handle = q.trigger(availableNow=True).start()
    else:
        handle = (
            q.format("memory").queryName("stream_out").trigger(availableNow=True).start()
        )
    handle.awaitTermination(120)
    return handle


def test_windowed_counts_match_batch_twin(spark, event_input, tmp_path):
    stream = read_event_stream(spark, event_input)
    _run_stream(spark, windowed_counts(stream), tmp_path, "complete")
    got = {tuple(r) for r in spark.table("stream_out").collect()}
    want = {tuple(r) for r in QUERIES["b50_tumbling_window"](spark, SF_SMALL).collect()}
    assert got == want


def test_session_windows_match_batch_twin(spark, event_input, tmp_path):
    stream = read_event_stream(spark, event_input)
    _run_stream(spark, sessionized_counts(stream), tmp_path, "complete")
    got = {tuple(r) for r in spark.table("stream_out").collect()}
    batch = QUERIES["b52_session_window"](spark, SF_SMALL).select(
        "user_id", "session_start", "cnt"
    )
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_stream_dedup(spark, event_input, tmp_path):
    ev = load_table(spark, SF_SMALL, "events")
    stream = dedup_stream(read_event_stream(spark, event_input))
    _run_stream(spark, stream.select("event_id"), tmp_path, "append")
    assert spark.table("stream_out").count() == ev.select("event_id").distinct().count()


def test_foreach_batch_upsert(spark, event_input, tmp_path):
    sink = ParquetDirSink(str(tmp_path / "out"))
    upsert = UpsertForeachBatch(sink, "event_totals")
    stream = read_event_stream(spark, event_input, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .agg({"value": "count"})
        .withColumnRenamed("count(value)", "cnt")
    )
    handle = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    handle.awaitTermination(120)
    assert len(upsert.batches_seen) >= 2  # one micro-batch per file
    out = spark.read.parquet(str(tmp_path / "out" / "event_totals"))
    ev = load_table(spark, SF_SMALL, "events")
    want = {(r[0], r[1]) for r in ev.groupBy("event_type").count().collect()}
    assert {(r["event_type"], r["cnt"]) for r in out.collect()} == want


def test_stateful_user_totals_matches_batch(spark, event_input, tmp_path):
    from sheetsetl_spark.streaming import stateful_user_totals

    stream = read_event_stream(spark, event_input, max_files_per_trigger=1)
    _run_stream(spark, stateful_user_totals(stream), tmp_path, "update")
    # update mode emits one row per user per micro-batch; the LAST emission
    # per user is the running total after all input -> equals the batch agg
    import pandas as pd

    emitted = spark.table("stream_out").toPandas()
    final = emitted.groupby("user_id").last()
    ev = load_table(spark, SF_SMALL, "events")
    from pyspark.sql import functions as F

    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("tv"),
        )
        .collect()
    }
    assert len(final) == len(want)
    for uid, row in final.iterrows():
        wn, wv = want[uid]
        assert row["n_events"] == wn
        assert abs(row["total_value"] - wv) < 1e-9


def test_stream_static_enrichment(spark, event_input, tmp_path):
    from pyspark.sql import functions as F

    from sheetsetl_spark.streaming import enrich_stream

    dim = load_table(spark, SF_SMALL, "customer").select("c_custkey", "c_mktsegment")
    stream = read_event_stream(spark, event_input)
    enriched = (
        enrich_stream(stream, dim, "user_id", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
    )
    _run_stream(spark, enriched, tmp_path, "complete")
    got = {tuple(r) for r in spark.table("stream_out").collect()}
    ev = load_table(spark, SF_SMALL, "events")
    want = {
        tuple(r)
        for r in ev.join(dim, ev.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want


def test_stream_stream_attribution_matches_batch(spark, event_input, tmp_path):
    from pyspark.sql import functions as F

    from sheetsetl_spark.streaming import purchase_click_attribution

    stream = read_event_stream(spark, event_input)
    _run_stream(spark, purchase_click_attribution(stream), tmp_path, "append")
    got = {tuple(r) for r in spark.table("stream_out").collect()}

    ev = load_table(spark, SF_SMALL, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    p = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 3600 SECONDS"))
    )
    want = {
        tuple(r)
        for r in p.join(c, cond).select("purchase_id", "click_id", F.col("p_user").alias("user_id")).collect()
    }
    assert got == want and len(want) > 0

def test_dedup_ingest_filters_cross_batch_near_dups(spark, tmp_path):
    """Streaming ingest with incremental near-dup filtering: a doc that
    near-duplicates one ingested in an EARLIER micro-batch is dropped;
    novel docs survive. Matches sequential batch application."""
    from sheetsetl_spark.streaming import DedupIngestForeachBatch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    # doc 2 near-duplicates doc 1 (9/11 shared 3-gram shingles > 0.5);
    # doc 3 is novel
    b2 = spark.createDataFrame(
        [(2, base + " extra"), (3, novel)], "doc_id long, text string"
    )
    hist = str(tmp_path / "history")
    ingest = DedupIngestForeachBatch(hist, threshold=0.5)
    # drive micro-batches by invoking the sink directly (exactly what
    # foreachBatch does per trigger) — batch replay idempotence included
    ingest(b1, 0)
    ingest(b2, 1)
    ingest(b2, 1)  # replayed micro-batch must not duplicate history

    got = {
        r["doc_id"]
        for r in spark.read.parquet(hist).select("doc_id").collect()
    }
    assert got == {1, 3}  # doc 2 dropped as near-dup of doc 1
    n_rows = spark.read.parquet(hist).count()
    assert n_rows == 2  # replay did not double-append

def test_dedup_ingest_replay_with_short_doc_loses_nothing(spark, tmp_path):
    """Regression: a replayed micro-batch containing a zero-shingle doc
    (<n tokens) must not delete its batch-mates from history. The sink
    excludes the batch's own partition from the history side, so replay
    reproduces the original survivor set instead of self-matching."""
    from sheetsetl_spark.streaming import DedupIngestForeachBatch

    hist = str(tmp_path / "history")
    ingest = DedupIngestForeachBatch(hist, threshold=0.5)
    b = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"), (2, "hi")],
        "doc_id long, text string",
    )
    ingest(b, 0)
    first = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    ingest(b, 0)  # replay after simulated checkpoint failure
    after = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert first == after == {1, 2}


def test_dedup_ingest_drops_intra_batch_near_dups(spark, tmp_path):
    """Near-dup pairs arriving in the SAME micro-batch: smaller id wins."""
    from sheetsetl_spark.streaming import DedupIngestForeachBatch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    hist = str(tmp_path / "history")
    ingest = DedupIngestForeachBatch(hist, threshold=0.5)
    b = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (9, "one two three four five six")],
        "doc_id long, text string",
    )
    ingest(b, 0)
    got = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert got == {1, 9}

@pytest.mark.parametrize("banding", [{"bands": 0}, {"num_hashes": 30, "bands": 8}])
def test_dedup_ingests_reject_bad_banding_at_construction(tmp_path, banding):
    """A banding the MinHash core refuses (bands < 1, or bands not
    dividing num_hashes) fails when the ingest is built, before any
    batch is written: neither store directory is created."""
    from sheetsetl_spark.streaming import (
        DedupIngestForeachBatch,
        SignatureDedupIngestForeachBatch,
    )

    hist, idx = str(tmp_path / "history"), str(tmp_path / "index")
    with pytest.raises(ValueError, match="bands"):
        DedupIngestForeachBatch(hist, **banding)
    with pytest.raises(ValueError, match="bands"):
        SignatureDedupIngestForeachBatch(hist, idx, **banding)
    assert not (tmp_path / "history").exists() and not (tmp_path / "index").exists()


@pytest.mark.parametrize(
    "ingest, banding, match",
    [
        ("EmbeddingDedupIngestForeachBatch", {"bands": 0}, "bands"),
        ("EmbeddingDedupIngestForeachBatch", {"num_planes": 30, "bands": 4}, "bands"),
        ("EmbeddingDedupIngestForeachBatch", {"num_planes": 0}, "num_planes"),
        ("MediaDedupIngestForeachBatch", {"bands": 1, "max_hamming": 1}, "pigeonhole"),
        ("MediaDedupIngestForeachBatch", {"max_hamming": -1}, "max_hamming"),
        ("MediaDedupIngestForeachBatch", {"bands": 4, "hash_bits": 3}, "hash_bits"),
    ],
)
def test_vector_and_media_ingests_reject_bad_banding_at_construction(
    tmp_path, ingest, banding, match
):
    """A banding the hyperplane or Hamming family refuses fails when the
    ingest is built, before any batch is written: neither store
    directory is created."""
    from sheetsetl_spark import streaming

    with pytest.raises(ValueError, match=match):
        getattr(streaming, ingest)(
            str(tmp_path / "history"), str(tmp_path / "index"), **banding
        )
    assert not any(tmp_path.iterdir())


def test_embedding_ingest_leaves_no_cache_entries(spark, tmp_path):
    """The embedding ingest's intra-batch pair finder persists the
    batch's signature frame; the call releases it, so after every
    micro-batch (a replay included) the session's cache manager is
    empty instead of holding one entry per batch."""
    from sheetsetl_spark.streaming import EmbeddingDedupIngestForeachBatch

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ingest = EmbeddingDedupIngestForeachBatch(str(tmp_path / "h"), str(tmp_path / "i"), dim=4)
    for b in (0, 1, 1):
        rows = [(b * 10 + i, [float(i == j) + b for j in range(4)]) for i in range(4)]
        ingest(spark.createDataFrame(rows, "vec_id long, embedding array<double>"), b)
        assert cache_manager.isEmpty(), b


def test_dedup_ingests_leave_no_cache_entries(spark, tmp_path):
    """The text-dedup ingests persist shingle streams and signature
    frames inside each call and unpersist them when it returns: after
    every call, a replay included, the session's cache manager is
    empty, so a long-running stream pins nothing across micro-batches."""
    from sheetsetl_spark.streaming import (
        DedupIngestForeachBatch,
        SignatureDedupIngestForeachBatch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batches = [
        spark.createDataFrame([(1, base), (2, "one two three four five six")],
                              "doc_id long, text string"),
        spark.createDataFrame([(3, base + " extra"), (4, "seven eight nine ten eleven")],
                              "doc_id long, text string"),
    ]
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ingests = [
        DedupIngestForeachBatch(str(tmp_path / "h")),
        SignatureDedupIngestForeachBatch(str(tmp_path / "sh"), str(tmp_path / "si")),
    ]
    for ingest in ingests:
        for batch_id in (0, 1, 1):
            ingest(batches[batch_id], batch_id)
            assert cache_manager.isEmpty(), (type(ingest).__name__, batch_id)
    for hist in ("h", "sh"):
        got = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / hist)).collect()}
        assert got == {1, 2, 4}, (hist, got)


def test_signature_dedup_ingest_maintains_index(spark, tmp_path):
    """Index-maintained ingest: cross-batch near-dups are dropped using
    ONLY the stored band table (no history text rescan); the index grows
    with survivors; replay is idempotent for history and index."""
    from sheetsetl_spark.streaming import SignatureDedupIngestForeachBatch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    novel = "one two three four five six seven eight nine ten"
    hist = str(tmp_path / "history")
    idx = str(tmp_path / "index")
    ingest = SignatureDedupIngestForeachBatch(hist, idx, threshold=0.5)

    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(2, base + " extra"), (3, novel)], "doc_id long, text string"
    )
    ingest(b1, 0)
    ingest(b2, 1)
    got = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert got == {1, 3}  # doc 2 estimated-near-dups doc 1 via the index
    # index holds bands for exactly the survivors: 8 bands per doc
    idx_df = spark.read.parquet(idx)
    assert {r["doc_id"] for r in idx_df.select("doc_id").collect()} == {1, 3}
    assert idx_df.count() == 2 * 8
    # replay: history and index unchanged
    ingest(b2, 1)
    assert {r["doc_id"] for r in spark.read.parquet(hist).collect()} == {1, 3}
    assert spark.read.parquet(idx).count() == 2 * 8


def test_signature_dedup_ingest_empty_first_batch(spark, tmp_path):
    """ADVICE r3 regression: an EMPTY first micro-batch writes no parquet
    data files, so the survivors read-back must be skipped (not crash on
    schema inference); a later real batch then proceeds normally."""
    from sheetsetl_spark.streaming import SignatureDedupIngestForeachBatch

    hist = str(tmp_path / "history")
    idx = str(tmp_path / "index")
    ingest = SignatureDedupIngestForeachBatch(hist, idx, threshold=0.5)
    ingest(spark.createDataFrame([], "doc_id long, text string"), 0)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ingest(b1, 1)
    assert {r["doc_id"] for r in spark.read.parquet(hist).collect()} == {1}
    assert {r["doc_id"] for r in spark.read.parquet(idx).collect()} == {1}


def test_rocksdb_state_store_posture(spark, event_input, tmp_path):
    """VERDICT r3 item 6: the pinned streaming posture (RocksDB state
    store + changelog checkpointing) actually drives a stateful query —
    progress metrics prove RocksDB held the dedup state, and results
    match the heap-store run."""
    from sheetsetl_spark.session import apply_streaming_posture

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    apply_streaming_posture(spark)
    try:
        stream = dedup_stream(read_event_stream(spark, event_input))
        handle = (
            stream.select("event_id")
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .format("memory")
            .queryName("rocksdb_out")
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination(120)
        with_state = [p for p in handle.recentProgress if p.get("stateOperators")]
        assert with_state, "no stateful progress recorded"
        custom = with_state[-1]["stateOperators"][0].get("customMetrics", {})
        assert any("rocksdb" in k.lower() for k in custom), (
            f"state store was not RocksDB; metrics: {sorted(custom)[:5]}"
        )
        ev = load_table(spark, SF_SMALL, "events")
        assert (
            spark.table("rocksdb_out").count()
            == ev.select("event_id").distinct().count()
        )
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_sustained_ingest_bounded_state(spark, tmp_path):
    """VERDICT r3 item 6: across >=20 micro-batches the signature-dedup
    index grows with SURVIVORS only — near-dups contribute zero rows to
    history or index, so state is O(unique corpus), not O(rows ingested);
    a mid-stream replay leaves both stores unchanged."""
    from sheetsetl_spark.streaming import SignatureDedupIngestForeachBatch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    hist = str(tmp_path / "history")
    idx = str(tmp_path / "index")
    ingest = SignatureDedupIngestForeachBatch(
        hist, idx, threshold=0.5, max_bucket_size=64
    )
    n_batches = 20
    for b in range(n_batches):
        rows = [(1000 + b, f"novel " + " ".join(f"w{b}x{j}" for j in range(9)))]
        if b == 0:
            rows.append((1, base))
        else:
            rows.append((2000 + b, base + f" tail{b}"))  # near-dup of doc 1
        ingest(spark.createDataFrame(rows, "doc_id long, text string"), b)

    survivors = n_batches + 1  # 20 novel + the base doc; every dup dropped
    assert spark.read.parquet(hist).count() == survivors
    idx_rows = spark.read.parquet(idx).count()
    assert idx_rows == survivors * 8  # bands per surviving doc, nothing else
    # replay a middle batch: state must not grow (idempotent partitions)
    replay = spark.createDataFrame(
        [(1000 + 7, "novel " + " ".join(f"w7x{j}" for j in range(9))),
         (2000 + 7, base + " tail7")],
        "doc_id long, text string",
    )
    ingest(replay, 7)
    assert spark.read.parquet(hist).count() == survivors
    assert spark.read.parquet(idx).count() == idx_rows


# --- round-5 soak tests (VERDICT r4 item 5) --------------------------------


def test_rocksdb_dedup_state_bounded_over_soak(spark, tmp_path):
    """>=20 micro-batches of time-ordered input through the RocksDB-backed
    streaming dedup: the watermark must EVICT old keys, so terminal state
    size is bounded by the horizon (a fraction of total distinct ids),
    and per-batch state growth is flat, not cumulative."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sheetsetl_spark.session import apply_streaming_posture

    # stage 25 time-ordered slices so the watermark advances every batch
    ev = load_table(spark, SF_SMALL, "events").select("event_id", "ts")
    n_slices = 25
    sliced = ev.withColumn("__slice", F.ntile(n_slices).over(Window.orderBy("ts")))
    src = tmp_path / "soak_in"
    src.mkdir()
    for i in range(1, n_slices + 1):
        sliced.filter(F.col("__slice") == i).drop("__slice").coalesce(1).write.parquet(
            str(tmp_path / f"tmp_{i}")
        )
        import glob
        import shutil

        (part,) = glob.glob(str(tmp_path / f"tmp_{i}" / "*.parquet"))
        shutil.copy(part, src / f"slice_{i:03d}.parquet")

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    apply_streaming_posture(spark)
    try:
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(src))
        )
        deduped = dedup_stream(stream, watermark="1 hour")
        handle = (
            deduped.select("event_id")
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .format("memory")
            .queryName("soak_out")
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination(300)
        progress = [p for p in handle.recentProgress if p.get("stateOperators")]
        assert len(progress) >= 20, f"only {len(progress)} stateful micro-batches"
        totals = [p["stateOperators"][0]["numRowsTotal"] for p in progress]
        n_ids = load_table(spark, SF_SMALL, "events").select("event_id").distinct().count()
        # every batch's retained state is horizon-bounded: far below the
        # cumulative id count a leak would show
        assert max(totals[5:]) < n_ids / 2, totals
        # flat, not monotone-growing: the last batches hold no more state
        # than the mid-run ones (eviction keeps up with ingestion)
        assert max(totals[-5:]) <= 2 * max(totals[5:10]) + 10, totals
        # ...and nothing was lost: every distinct id came through exactly once
        assert spark.table("soak_out").count() == n_ids
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_signature_ingest_soak_flat_cost(spark, tmp_path):
    """>=20 micro-batches through the index-maintained signature-dedup
    ingest: the band-table index must stay exactly bands-per-survivor
    (it grows with SURVIVORS, never with total input), cross-batch
    near-dups keep being caught late in the run, and per-batch wall time
    stays flat (O(new + collisions), no history rescan)."""
    import time

    from sheetsetl_spark.streaming import SignatureDedupIngestForeachBatch

    hist = str(tmp_path / "history")
    idx = str(tmp_path / "index")
    bands = 8
    ingest = SignatureDedupIngestForeachBatch(
        hist, idx, threshold=0.5, bands=bands
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    durations = []
    n_batches = 22
    for b in range(n_batches):
        rows = []
        # one novel doc per batch...
        novel = " ".join(f"{w}{b}" for w in words)
        rows.append((b * 10, novel))
        if b > 0:
            # ...plus a near-dup of the PREVIOUS batch's novel doc — must
            # be dropped via the stored index, even 20 batches in
            prev = " ".join(f"{w}{b - 1}" for w in words)
            rows.append((b * 10 + 1, prev + " tail"))
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        t0 = time.monotonic()
        ingest(batch, b)
        durations.append(time.monotonic() - t0)

    survivors = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert survivors == {b * 10 for b in range(n_batches)}, survivors
    # index is exactly bands x survivors — bounded by what history HOLDS
    assert spark.read.parquet(idx).count() == bands * n_batches
    # flat per-batch cost: late batches may pay for a bigger index read,
    # but nothing near the O(history) blowup a rescan design would show
    first = sorted(durations[1:6])[2]  # median of batches 1-5
    last = sorted(durations[-5:])[2]  # median of last 5
    assert last < 5 * first + 2.0, (first, last, durations)


def test_transform_with_state_matches_batch_and_legacy(spark, event_input, tmp_path):
    """The transformWithStateInPandas operator (Spark 4 typed-state API,
    RocksDB-required) converges to the same per-user totals as the batch
    aggregate — exact decimal accumulation across micro-batches.

    Skips where google.protobuf (the TWS state-server protocol dep) is
    absent — this container; the operator raises a clear ImportError
    there, asserted below."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf (absent in env)",
    )
    from pyspark.sql import functions as F

    from sheetsetl_spark.session import apply_streaming_posture
    from sheetsetl_spark.streaming import stateful_user_totals_tws

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prior = spark.conf.get(key)
    except Exception:
        prior = None
    apply_streaming_posture(spark)  # transformWithState REQUIRES RocksDB
    try:
        stream = read_event_stream(spark, event_input, max_files_per_trigger=1)
        handle = (
            stateful_user_totals_tws(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .format("memory")
            .queryName("tws_out")
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination(120)
        emitted = spark.table("tws_out").toPandas()
        final = emitted.groupby("user_id").last()
        ev = load_table(spark, SF_SMALL, "events")
        want = {
            r["user_id"]: (r["n"], r["tv"])
            for r in ev.groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("tv"),
            )
            .collect()
        }
        assert len(final) == len(want)
        for uid, row in final.iterrows():
            wn, wv = want[uid]
            assert row["n_events"] == wn
            assert abs(row["total_value"] - wv) < 1e-9
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_transform_with_state_import_gate_is_actionable(spark):
    """Without protobuf the TWS operator must fail FAST with a message
    pointing at the working alternative — not crash the streaming query
    worker mid-run."""
    try:
        import google.protobuf  # noqa: F401

        pytest.skip("protobuf present; gate inactive")
    except ImportError:
        pass
    from sheetsetl_spark.streaming import stateful_user_totals_tws

    ev = spark.createDataFrame([(1, 2.0)], "user_id long, value double")
    with pytest.raises(ImportError, match="applyInPandasWithState"):
        stateful_user_totals_tws(ev)


def test_embedding_dedup_ingest_maintains_index(spark, tmp_path):
    """Vector twin of the signature-index ingest: cross-batch embedding
    near-dups drop via the stored band index (exact-cosine verify on
    collisions only), intra-batch dups resolve smaller-id-wins, the
    index grows with survivors, and replay is idempotent."""
    import math

    from sheetsetl_spark.streaming import EmbeddingDedupIngestForeachBatch

    dim = 64

    def unit(axis):
        v = [0.0] * dim
        v[axis] = 1.0
        return v

    def tilted(axis, eps=0.01):
        # near-dup of unit(axis): cosine ~ 1/sqrt(1+eps^2) ~ 0.99995
        v = unit(axis)
        v[(axis + 1) % dim] = eps
        n = math.sqrt(1 + eps * eps)
        return [x / n for x in v]

    hist = str(tmp_path / "vhistory")
    idx = str(tmp_path / "vindex")
    ingest = EmbeddingDedupIngestForeachBatch(hist, idx, threshold=0.98)

    schema = "vec_id long, embedding array<double>"
    # batch 0: two distinct directions + an intra-batch near-dup of id 1
    b0 = spark.createDataFrame(
        [(1, unit(0)), (2, unit(7)), (3, tilted(0))], schema
    )
    # batch 1: near-dup of history id 2 (must drop) + a novel direction
    b1 = spark.createDataFrame([(4, tilted(7)), (5, unit(23))], schema)
    ingest(b0, 0)
    ingest(b1, 1)
    got = {r["vec_id"] for r in spark.read.parquet(hist).collect()}
    assert got == {1, 2, 5}  # 3 lost intra-batch to 1; 4 to indexed 2
    idx_df = spark.read.parquet(idx)
    assert {r["vec_id"] for r in idx_df.select("vec_id").collect()} == {1, 2, 5}
    assert idx_df.count() == 3 * 4  # bands per survivor
    # replay batch 1: history and index unchanged
    ingest(b1, 1)
    assert {r["vec_id"] for r in spark.read.parquet(hist).collect()} == {1, 2, 5}
    assert spark.read.parquet(idx).count() == 3 * 4


def test_embedding_dedup_ingest_empty_first_batch(spark, tmp_path):
    from sheetsetl_spark.streaming import EmbeddingDedupIngestForeachBatch

    hist = str(tmp_path / "vhistory")
    idx = str(tmp_path / "vindex")
    ingest = EmbeddingDedupIngestForeachBatch(hist, idx, threshold=0.98)
    ingest(spark.createDataFrame([], "vec_id long, embedding array<double>"), 0)
    v = [0.0] * 64
    v[5] = 1.0
    ingest(spark.createDataFrame([(9, v)], "vec_id long, embedding array<double>"), 1)
    assert {r["vec_id"] for r in spark.read.parquet(hist).collect()} == {9}
    assert {r["vec_id"] for r in spark.read.parquet(idx).collect()} == {9}


def _batch_store_case(spark, name, root):
    """(ingest, batch, store dirs) for one batch-store ingest writing
    under ``root``; ``batch`` is a small real micro-batch."""
    from pyspark.sql import functions as F

    from sheetsetl_spark.operators import multimodal as mm
    from sheetsetl_spark.operators.similarity import write_ivf_index
    from sheetsetl_spark import streaming as st

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    if name == "dedup":
        return st.DedupIngestForeachBatch(f"{root}/h"), docs, ["h"]
    if name == "media":
        def img(mid, seed):
            rgb = bytes((j * seed + 11) % 256 for j in range(60))
            return (mid, "image", mm.encode_ppm(5, 4, rgb), None)

        media = spark.createDataFrame(
            [img(1, 37), img(2, 37), img(5, 97)], schema=mm.MEDIA_SCHEMA
        )
        ingest = st.MediaDedupIngestForeachBatch(f"{root}/h", f"{root}/i")
        return ingest, media, ["h", "i"]
    if name == "active_user":
        events = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 11:00:00"),
             (2, "2024-01-03 09:00:00")],
            "user_id long, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        return st.ActiveUserIngestForeachBatch(f"{root}/s"), events, ["s"]
    if name == "decontamination":
        spark.createDataFrame(
            [(7, "gamma delta epsilon zeta")], "probe_id long, probe string"
        ).write.parquet(f"{root}/probes")
        gate = st.DecontaminationIngestForeachBatch(f"{root}/probes", f"{root}/c", f"{root}/q")
        return gate, docs, ["c", "q"]
    if name == "sketch":
        return st.SketchIngestForeachBatch(f"{root}/s", width=64), docs, ["s"]
    if name == "kmv":
        return st.KmvIngestForeachBatch(f"{root}/s", "doc_id", "text", k=2), docs, ["s"]
    if name == "quantile":
        values = spark.createDataFrame([(float(i),) for i in range(20)], "value double")
        return st.QuantileSketchIngestForeachBatch(f"{root}/s", 0.0, 20.0, bins=4), values, ["s"]
    if name == "holt":
        series = spark.createDataFrame(
            [("A", "2024-01-01", 4.0), ("A", "2024-01-02", 3.0)],
            "k string, d string, x double",
        )
        return st.HoltIngestForeachBatch(f"{root}/s", "k", "d", "x"), series, ["s"]
    assert name == "ivf", name
    emb = load_table(spark, SF_SMALL, "embeddings")
    write_ivf_index(emb.filter("vec_id < 40"), f"{root}/ivf", num_centroids=8)
    vectors = emb.filter("vec_id >= 40 AND vec_id < 50")
    return st.IvfIndexIngestForeachBatch(f"{root}/ivf"), vectors, ["ivf"]


@pytest.mark.parametrize(
    "name",
    ["dedup", "media", "active_user", "decontamination", "sketch", "kmv",
     "quantile", "holt", "ivf"],
)
def test_batch_store_ingest_empty_first_batch(spark, tmp_path, name):
    """An empty micro-batch 0 writes no partition: after it, a real
    batch 1 and a replay of batch 1 leave every store exactly as a run
    that only ingested batch 1."""
    def stores(root, dirs):
        return [sorted(map(str, spark.read.parquet(f"{root}/{d}").collect())) for d in dirs]

    ingest, batch, dirs = _batch_store_case(spark, name, tmp_path / "with_empty")
    ingest(batch.limit(0), 0)
    ingest(batch, 1)
    ingest(batch, 1)
    want_ingest, want_batch, _ = _batch_store_case(spark, name, tmp_path / "plain")
    want_ingest(want_batch, 1)
    got = stores(tmp_path / "with_empty", dirs)
    assert got == stores(tmp_path / "plain", dirs)
    assert all(got)


@pytest.mark.parametrize("written", ["never", "empty_batch"])
@pytest.mark.parametrize(
    "name, read",
    [
        ("sketch", lambda ingest, spark: ingest.merged_sketch(spark)),
        ("sketch", lambda ingest, spark: ingest.estimates(spark, ["alpha"])),
        ("kmv", lambda ingest, spark: ingest.estimates(spark)),
        ("quantile", lambda ingest, spark: ingest.quantiles(spark)),
        ("holt", lambda ingest, spark: ingest.smoothed(spark)),
        ("active_user", lambda ingest, spark: ingest.wau(spark)),
    ],
    ids=["sketch.merged_sketch", "sketch.estimates", "kmv.estimates",
         "quantile.quantiles", "holt.smoothed", "active_user.wau"],
)
def test_batch_store_read_side_on_empty_store(spark, tmp_path, name, read, written):
    """A read side over a store holding no data — nothing ingested yet,
    or only an empty micro-batch — raises the one empty-store
    ValueError instead of a Spark path or schema-inference error."""
    ingest, batch, _ = _batch_store_case(spark, name, tmp_path)
    if written == "empty_batch":
        ingest(batch.limit(0), 0)
    with pytest.raises(ValueError, match="empty store"):
        read(ingest, spark)


def test_media_dedup_ingest_maintains_fingerprint_index(spark, tmp_path):
    """Binary-payload member of the incremental-dedup family: image
    batches dedupe against the stored dHash index (payloads never enter
    the index), intra-batch smaller-id-wins, replay idempotent."""
    from sheetsetl_spark.operators import multimodal as mm
    from sheetsetl_spark.streaming import MediaDedupIngestForeachBatch

    def img(mid, bump=0):
        rgb = bytes(((j * 37 + 11) + (bump if j < 3 else 0)) % 256 for j in range(60))
        return (mid, "image", mm.encode_ppm(5, 4, rgb), None)

    def other(mid):
        return (mid, "image", mm.encode_ppm(5, 4, bytes((j * 97 + 13) % 256 for j in range(60))), None)

    hist = str(tmp_path / "mhistory")
    idx = str(tmp_path / "mindex")
    ingest = MediaDedupIngestForeachBatch(hist, idx, max_hamming=1, bands=2)

    b0 = spark.createDataFrame([img(1), img(2), other(5)], schema=mm.MEDIA_SCHEMA)
    b1 = spark.createDataFrame([img(7, bump=16), other(8)], schema=mm.MEDIA_SCHEMA)
    ingest(b0, 0)
    ingest(b1, 1)
    got = {r["media_id"] for r in spark.read.parquet(hist).collect()}
    # 2 lost intra-batch to 1; 7 (one-pixel variant) lost to indexed 1;
    # 8 duplicates 5's pixels and is dropped against the index
    assert got == {1, 5}
    idx_df = spark.read.parquet(idx)
    assert {r["media_id"] for r in idx_df.collect()} == {1, 5}
    assert set(idx_df.columns) >= {"media_id", "dhash"}
    ingest(b1, 1)  # replay
    assert {r["media_id"] for r in spark.read.parquet(hist).collect()} == {1, 5}


def test_sketch_ingest_merge_equals_one_shot(spark, tmp_path):
    """CMS linearity end-to-end: the merged incremental sketch is CELL-
    IDENTICAL to a one-shot build over the full corpus (not just close —
    the linear-sketch property makes incremental maintenance exact), and
    probe estimates agree. Replay of a batch must not double-count."""
    from sheetsetl_spark.operators.text import cms_cells
    from sheetsetl_spark.streaming import SketchIngestForeachBatch

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    parts = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    ingest = SketchIngestForeachBatch(str(tmp_path / "sketch"), width=256, depth=4)
    for i, p in enumerate(parts):
        ingest(p, i)
    merged = {
        (r.depth, r.bucket): r.cnt
        for r in ingest.merged_sketch(spark).collect()
    }
    one_shot = {
        (r.depth, r.bucket): r.cnt
        for r in cms_cells(docs, width=256, depth=4).collect()
    }
    assert merged == one_shot
    # replay idempotence: rewriting batch 1's partition changes nothing
    ingest(parts[1], 1)
    replayed = {
        (r.depth, r.bucket): r.cnt
        for r in ingest.merged_sketch(spark).collect()
    }
    assert replayed == one_shot
    # estimates carry the CMS overestimate guarantee vs exact counts
    est = {r.token: r.cms_est for r in ingest.estimates(spark, ["table", "row"]).collect()}
    from pyspark.sql import functions as F

    exact = {
        r.token: r.cnt
        for r in docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(["table", "row"]))
        .groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    for t, x in exact.items():
        assert est[t] >= x


def test_sketch_ingest_from_stream(spark, tmp_path):
    """Drive SketchIngestForeachBatch from a real file stream
    (availableNow, one file per trigger): the merged sketch equals the
    one-shot build over everything the stream delivered."""
    from sheetsetl_spark.operators.text import cms_cells
    from sheetsetl_spark.streaming import SketchIngestForeachBatch

    src = tmp_path / "incoming"
    src.mkdir()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    for i in range(3):
        docs.filter(f"doc_id % 3 = {i}").coalesce(1).write.parquet(
            str(src / f"part{i}")
        )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "part*"))
    )
    ingest = SketchIngestForeachBatch(str(tmp_path / "sketch"), width=256, depth=4)
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    merged = {
        (r.depth, r.bucket): r.cnt for r in ingest.merged_sketch(spark).collect()
    }
    one_shot = {
        (r.depth, r.bucket): r.cnt
        for r in cms_cells(docs, width=256, depth=4).collect()
    }
    assert merged == one_shot
    assert len(ingest.batches_seen) >= 2  # maxFilesPerTrigger split it up


def test_active_user_ingest_matches_batch_wau(spark, tmp_path):
    """3-batch ingest of the events fixture: the maintained (day, user)
    pair store yields the SAME rolling-WAU series as the x78 batch query
    over all events, the store holds no duplicate pairs, and replaying a
    batch changes nothing."""
    from pyspark.sql import functions as F

    from sheetsetl_spark.queries import QUERIES
    from sheetsetl_spark.streaming import ActiveUserIngestForeachBatch

    ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    # catalog conversion is for the ns fixture read path; here read raw
    # and restamp ts as timestamp for the batch splits
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn(
            "ts", (F.col("ts") / F.lit(1_000_000_000)).cast("timestamp")
        )
    parts = [ev.filter(f"event_id % 3 = {i}") for i in range(3)]
    ingest = ActiveUserIngestForeachBatch(str(tmp_path / "store"))
    for i, p in enumerate(parts):
        ingest(p, i)

    # no duplicate pairs across batches
    store = spark.read.parquet(str(tmp_path / "store"))
    assert (
        store.groupBy("day", "user_id").count().filter("count > 1").count() == 0
    )

    got = {r.day: r.wau_7d for r in ingest.wau(spark).collect()}

    ev.write.mode("overwrite").parquet(str(tmp_path / "all" / "events.parquet"))
    want = {
        r.day: r.wau_7d
        for r in QUERIES["x78_rolling_wau"](spark, str(tmp_path / "all")).collect()
    }
    assert got == want

    # replay idempotence
    ingest(parts[1], 1)
    again = {r.day: r.wau_7d for r in ingest.wau(spark).collect()}
    assert again == want


def test_decontamination_ingest_gates_and_replays(spark, tmp_path):
    """Streaming eval-leak gate: contaminated docs are quarantined with
    their probe hits, clean docs enter the corpus, a replayed
    micro-batch changes nothing, and the anchored and broadcast gate
    paths agree."""
    from sheetsetl_spark.streaming import DecontaminationIngestForeachBatch

    probes_dir = str(tmp_path / "probes")
    spark.createDataFrame(
        [(7, "ha beta gamma delta ep")], "probe_id long, probe string"
    ).write.parquet(probes_dir)

    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains probe
            (2, "totally clean document with fresh words"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "more clean text here again friend"),
         (4, "xx ha beta gamma delta ep yy")],  # contaminated
        "doc_id long, text string",
    )

    for anchored in (True, False):
        corpus = str(tmp_path / f"corpus_{anchored}")
        quar = str(tmp_path / f"quarantine_{anchored}")
        gate = DecontaminationIngestForeachBatch(
            probes_dir, corpus, quar, anchored=anchored
        )
        gate(b1, 0)
        gate(b2, 1)
        gate(b2, 1)  # replay must be a no-op rewrite

        clean_ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
        qrows = spark.read.parquet(quar).collect()
        assert clean_ids == {2, 3}, anchored
        assert {r.doc_id for r in qrows} == {1, 4}, anchored
        assert all(r.n_probes_hit == 1 and r.probe_ids == "7" for r in qrows)
        assert spark.read.parquet(corpus).count() == 2  # no double-append
        assert spark.read.parquet(quar).count() == 2


def test_decontamination_gate_catches_short_probes_when_anchored(spark, tmp_path):
    """anchored=True must NOT admit a doc whose only contamination is a
    sub-4-word probe: the anchored operator drops short probes by
    construction (no interior bigram), so the gate routes them through
    the broadcast contains path and unions the hit pairs. Probe ids 9
    and 10 pin the native-type sort in the merged aggregate ("9,10",
    not the lexicographic "10,9")."""
    from sheetsetl_spark.streaming import DecontaminationIngestForeachBatch

    probes_dir = str(tmp_path / "probes")
    spark.createDataFrame(
        [(10, "zq secret"),  # 2 words: anchored path alone would drop it
         (9, "lorem ipsum dolor sit amet")],
        "probe_id long, probe string",
    ).write.parquet(probes_dir)

    batch = spark.createDataFrame(
        [
            (1, "contains the zq secret token only"),       # short hit only
            (2, "clean words nothing to see here"),
            (3, "both lorem ipsum dolor sit amet and zq secret appear"),
        ],
        "doc_id long, text string",
    )
    corpus = str(tmp_path / "corpus")
    quar = str(tmp_path / "quarantine")
    gate = DecontaminationIngestForeachBatch(probes_dir, corpus, quar, anchored=True)
    gate(batch, 0)

    clean_ids = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    qrows = {r.doc_id: r for r in spark.read.parquet(quar).collect()}
    assert clean_ids == {2}
    assert set(qrows) == {1, 3}
    assert qrows[1].n_probes_hit == 1 and qrows[1].probe_ids == "10"
    assert qrows[3].n_probes_hit == 2 and qrows[3].probe_ids == "9,10"


def test_kmv_ingest_matches_oneshot_sketch(spark, tmp_path):
    """Streaming KMV (read-side sketch twin of c97): per-batch k-min
    sets merge into EXACTLY the one-shot sketch — n_est over the
    ingested history equals operators/profiling.py::kmv_distinct on the
    same rows, for both the exact-fallback (< k) and estimator (>= k)
    branches — and a replayed batch changes nothing. k < 2 is a
    ValueError on both sides (k = 1 would estimate 0 for every group)."""
    from sheetsetl_spark.operators.profiling import kmv_distinct
    from sheetsetl_spark.streaming import KmvIngestForeachBatch

    k = 8
    # group "big": 40 distinct values split across batches (> k, with
    # overlap so the distinct-merge matters); group "small": 3 (< k)
    rows1 = [("big", f"v{i}") for i in range(25)] + [("small", "a"), ("small", "b")]
    rows2 = [("big", f"v{i}") for i in range(15, 40)] + [("small", "b"), ("small", "c")]
    b1 = spark.createDataFrame(rows1, "g string, v string")
    b2 = spark.createDataFrame(rows2, "g string, v string")

    gate = KmvIngestForeachBatch(str(tmp_path / "kmv"), "g", "v", k=k)
    gate(b1, 0)
    gate(b2, 1)
    gate(b2, 1)  # replay: dynamic overwrite must be a no-op rewrite

    got = {r.g: r.n_est for r in gate.estimates(spark).collect()}
    want = {
        r.g: r.n_est
        for r in kmv_distinct(b1.unionByName(b2), "g", "v", k=k).collect()
    }
    assert got == want
    assert got["small"] == 3.0  # exact-fallback branch really exercised

    one = KmvIngestForeachBatch(str(tmp_path / "kmv1"), "g", "v", k=1)
    one(b1, 0)
    with pytest.raises(ValueError, match="k >= 2"):
        one.estimates(spark)
    with pytest.raises(ValueError, match="k >= 2"):
        kmv_distinct(b1, "g", "v", k=1)


def test_quantile_sketch_ingest_matches_oneshot(spark, tmp_path):
    """Streaming fixed-edge histogram quantiles: merged per-batch cells
    equal the one-shot build bit-for-bit (linear-sketch property), and
    a replayed batch does not double-count. A degenerate domain or bin
    count is a ValueError at construction, not at the first batch."""
    from sheetsetl_spark.streaming import QuantileSketchIngestForeachBatch

    for lo, hi, bins in ((0.0, 1000.0, 0), (5.0, 5.0, 50)):
        with pytest.raises(ValueError, match="QuantileSketch"):
            QuantileSketchIngestForeachBatch(
                str(tmp_path / "bad"), lo=lo, hi=hi, bins=bins
            )
    b1 = spark.createDataFrame([(float(i),) for i in range(0, 500)], "value double")
    b2 = spark.createDataFrame(
        [(float(i),) for i in range(300, 1000)] + [(-50.0,), (2000.0,)],  # clamped
        "value double",
    )
    gate = QuantileSketchIngestForeachBatch(
        str(tmp_path / "qsketch"), lo=0.0, hi=1000.0, bins=50
    )
    gate(b1, 0)
    gate(b2, 1)
    gate(b2, 1)  # replay

    got = {r.quantile: r.estimate for r in gate.quantiles(spark).collect()}
    want = {
        r.quantile: r.estimate
        for r in gate.oneshot(b1.unionByName(b2)).collect()
    }
    assert got == want and len(got) == 4
    # sanity: median of 0..999-ish lands mid-domain
    assert 400.0 < got[0.5] < 600.0


def test_holt_ingest_matches_oneshot(spark, tmp_path):
    """Streaming Holt (read-side twin of c100): per-batch per-(key, day)
    DECIMAL partials merge into EXACTLY the one-shot daily series, so the
    sequential fold over the merged store is bit-identical to
    operators/incremental.py::holt_by_key over the full history; a
    replayed batch changes nothing (dynamic partition overwrite)."""
    from pyspark.sql import functions as F

    from sheetsetl_spark.operators.incremental import holt_by_key
    from sheetsetl_spark.streaming import HoltIngestForeachBatch

    rows1 = [("A", "2024-01-01", 4.0), ("A", "2024-01-02", 3.0),
             ("B", "2024-01-01", 10.0)]
    rows2 = [("A", "2024-01-02", 5.0),  # same (key, day): partials must sum
             ("A", "2024-01-03", 6.0), ("B", "2024-01-02", 20.0)]
    b1 = spark.createDataFrame(rows1, "k string, d string, x double")
    b2 = spark.createDataFrame(rows2, "k string, d string, x double")

    gate = HoltIngestForeachBatch(str(tmp_path / "holt"), "k", "d", "x")
    gate(b1, 0)
    gate(b2, 1)
    gate(b2, 1)  # replay: must rewrite, not double-count

    got = {r["__k"]: (r.n_points, r.level, r.trend, r.forecast_7)
           for r in gate.smoothed(spark).collect()}
    daily = (
        b1.unionByName(b2)
        .groupBy(F.col("k"), F.to_date("d").alias("day"))
        .agg(F.sum(F.col("x").cast("decimal(18,6)")).cast("double").alias("v"))
    )
    want = {r.k: (r.n_points, r.level, r.trend, r.forecast_7)
            for r in holt_by_key(daily, "k", "day", "v").collect()}
    assert got == want
    # hand-check key A: days [4, 8, 6] -> l1=2,t1=1; l2=5.5,t2=2.25;
    # l3=6.875,t3=1.8125
    assert got["A"] == (3, 6.875, 1.8125, 6.875 + 7 * 1.8125)


def test_kill_and_restart_from_checkpoint_resumes_exactly_once(spark, tmp_path):
    """The recovery drill behind the exactly-once claims: a stateful
    aggregation + UpsertForeachBatch sink is STOPPED after consuming half
    the input, then restarted from the same checkpoint with the rest of
    the input present. The restart must (a) resume the state store — the
    final sink equals the batch aggregate over ALL input, (b) not
    re-feed the already-committed micro-batches — the second run's batch
    ids strictly extend the first run's, and (c) a third restart with no
    new input publishes nothing new and leaves the sink unchanged."""
    import glob
    import shutil

    from pyspark.sql import functions as F

    ev = load_table(spark, SF_SMALL, "events")
    staging = tmp_path / "staging"
    for i in range(4):
        ev.filter(f"event_id % 4 = {i}").coalesce(1).write.parquet(
            str(staging / f"chunk_{i}")
        )
    parts = sorted(glob.glob(str(staging / "chunk_*" / "*.parquet")))
    assert len(parts) == 4
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    chk = str(tmp_path / "chk")
    sink_dir = str(tmp_path / "out")

    def run_once():
        """One process lifetime: fresh foreachBatch object (driver-side
        state does NOT survive a kill), same checkpoint + sink paths."""
        upsert = UpsertForeachBatch(ParquetDirSink(sink_dir), "user_totals")
        stream = read_event_stream(spark, str(in_dir), max_files_per_trigger=1)
        agg = stream.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("tv"),
        )
        handle = (
            agg.writeStream.outputMode("complete")
            .option("checkpointLocation", chk)
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        handle.awaitTermination(120)
        return upsert.batches_seen

    def totals(df):
        return {r["user_id"]: (r["n"], r["tv"]) for r in df.collect()}

    # run 1: half the input, then the query STOPS (availableNow drains
    # what exists and terminates — the clean-kill point)
    for p in parts[:2]:
        shutil.copy(p, in_dir / f"f{parts.index(p)}.parquet")
    first = run_once()
    assert len(first) == 2  # one micro-batch per file
    half = ev.filter("event_id % 4 in (0, 1)")
    got1 = totals(spark.read.parquet(f"{sink_dir}/user_totals"))
    want1 = totals(
        half.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("tv"),
        )
    )
    assert got1 == want1

    # the rest of the input lands while the pipeline is down
    for p in parts[2:]:
        shutil.copy(p, in_dir / f"f{parts.index(p)}.parquet")

    # run 2: restart from the checkpoint — resumes state, skips the
    # committed batches
    second = run_once()
    assert len(second) == 2
    assert min(second) > max(first)  # no re-feed of committed batches
    got2 = totals(spark.read.parquet(f"{sink_dir}/user_totals"))
    want2 = totals(
        ev.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("tv"),
        )
    )
    assert got2 == want2  # state survived the kill: full-corpus totals

    # run 3: nothing new — nothing published, sink byte-identical
    third = run_once()
    assert third == []
    assert totals(spark.read.parquet(f"{sink_dir}/user_totals")) == got2


def test_media_dedup_ingest_derives_audio_live_bits(spark, tmp_path):
    """ADVICE r8: the media ingest's banding must track the fingerprint's
    LIVE width without the caller passing it. 256-sample clips at
    window=32 yield 7-bit energy hashes (8 frames - 1 delta bits);
    hash_bits unset (the default) derives the width from the observed
    hashes, so the band equi-join never carries a dead all-zero band.
    Cross-batch near-dups must still drop via the derived banding."""
    from functools import partial

    from sheetsetl_spark.operators import multimodal as mm
    from sheetsetl_spark.streaming import MediaDedupIngestForeachBatch

    def clip(base, bump_last=0):
        return [
            ((base * 13 + ((t * t) % 509) * 3) % 4096) - 2048
            + (bump_last if t >= 224 else 0)
            for t in range(256)
        ]

    def row(mid, samples):
        return (mid, "audio", mm.encode_wav(8000, samples), None)

    hist = str(tmp_path / "ahistory")
    idx = str(tmp_path / "aindex")
    ingest = MediaDedupIngestForeachBatch(
        hist, idx,
        fingerprint_fn=partial(mm.audio_energy_hash, window=32),
        hash_col="ehash", max_hamming=1, bands=2,  # hash_bits derived
    )
    # batch 0: 1 and 2 identical clips (intra-batch dup), 9 a genuinely
    # different waveform SHAPE (the closed-form clip() family shares
    # delta signs across bases — near-dups by design of the fingerprint)
    b0 = spark.createDataFrame(
        [row(1, clip(5)), row(2, clip(5)),
         row(9, [t % 97 - 48 for t in range(256)])],
        schema=mm.MEDIA_SCHEMA,
    )
    # batch 1: 3 is a 1-bit variant of 1 (vs INDEX), 11 distinct again
    b1 = spark.createDataFrame(
        [row(3, clip(5, bump_last=64)),
         row(11, [((t * 7) % 193) - 96 for t in range(256)])],
        schema=mm.MEDIA_SCHEMA,
    )
    ingest(b0, 0)
    ingest(b1, 1)
    got = {r["media_id"] for r in spark.read.parquet(hist).collect()}
    assert got == {1, 9, 11}
    # the derived width keeps every stored hash within the live bits
    mx = max(r["ehash"] for r in spark.read.parquet(idx).collect())
    assert 0 < mx < (1 << 7)
    ingest(b1, 1)  # replay idempotence on the derived path
    assert {r["media_id"] for r in spark.read.parquet(hist).collect()} == {1, 9, 11}


def test_live_bits_negative_hash_uses_full_width(spark):
    """ADVICE r9: fingerprint_fn is pluggable — a custom fingerprint
    using bit 63 stores NEGATIVE longs. F.max alone either ignores them
    or returns a small-magnitude negative whose bit_length wildly
    underestimates; either way the derived width collapses the bands
    into low bits and the candidate mass goes quadratic. Any negative
    observation must force the full 64-bit width."""
    from sheetsetl_spark.streaming.pipeline import _live_bits

    def frame(vals):
        return spark.createDataFrame([(v,) for v in vals], "h long")

    assert _live_bits(frame([3, 100, 7]), "h") == 7  # positive: bit_length(max)
    assert _live_bits(frame([3, -1, 7]), "h") == 64  # sign bit live
    assert _live_bits(frame([-(1 << 62)]), "h") == 64
    assert _live_bits(frame([]), "h") == 0  # empty → caller floors at bands


def test_media_dedup_identical_fingerprints_collapse(spark, tmp_path):
    """The identical-fingerprint floor (r10 100x replay): a batch whose
    images all share one dHash must resolve to the single min-id
    survivor via the distinct-hash collapse — the banded join runs over
    group minima, never enumerating the O(n^2) duplicate pairs. The
    survivor set must equal the old pairwise rule's exactly: min id per
    hash group, minus group minima dominated by a smaller near-hash."""
    from functools import partial

    from sheetsetl_spark.operators import multimodal as mm
    from sheetsetl_spark.streaming import MediaDedupIngestForeachBatch

    hist, idx = str(tmp_path / "h"), str(tmp_path / "i")
    ingest = MediaDedupIngestForeachBatch(hist, idx, max_hamming=2, bands=4)
    # 50 identical images (ids 10..59) + 1 genuinely different (id 5):
    # the default c5b pixel formula makes every image's adjacent-pixel
    # deltas equal, hence one shared dHash
    same = mm.synthesize_ppm_media(
        spark.range(10, 60).withColumnRenamed("id", "doc_id")
    )
    diff = mm.synthesize_ppm_media(
        spark.range(5, 6).withColumnRenamed("id", "doc_id"),
        pixel_fn=lambda i, j: (j * j * 31 + (j % 7) * 101),
    )
    ingest(same.unionAll(diff), 0)
    got = {r["media_id"] for r in spark.read.parquet(hist).collect()}
    assert got == {5, 10}, got
    # replay of a later all-duplicate batch drops everything via the
    # hash-collapsed incremental filter
    ingest(mm.synthesize_ppm_media(
        spark.range(100, 140).withColumnRenamed("id", "doc_id")), 1)
    got = {r["media_id"] for r in spark.read.parquet(hist).collect()}
    assert got == {5, 10}, got
