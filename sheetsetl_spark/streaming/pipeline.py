"""Structured Streaming tier (SURVEY §2-B B50-B55).

The reference's closest notion of streaming is a cron re-run that
overwrites each sheet in place (/root/reference/README.md:38-43;
loader.py:168-174). Here that becomes real incremental processing:
readStream -> event-time windows with watermarks -> foreachBatch upsert
through the same Sink interface the batch pipeline uses. Every
transformation has a batch twin in queries/event_windows.py so the DuckDB
oracle can check the semantics.

Scale notes: file-source streaming with maxFilesPerTrigger handles
backfill; watermarks bound state; the foreachBatch upsert keeps sink
idempotency on retries (batch_id is available for exactly-once sinks).

The ``*IngestForeachBatch`` sinks keep their state in batch stores:
parquet directories partitioned by ``__batch_id``, one partition per
micro-batch. One replay contract covers them all: a micro-batch
rewrites only its own partition (dynamic partition overwrite), and an
ingest that reads its own store leaves the current batch out, so a
replayed micro-batch rewrites identical rows. It is implemented once,
in :func:`_write_batch` and :func:`_read_store`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sheetsetl_spark.cache import cache_scope, scoped_persist
from sheetsetl_spark.operators.dedup import (
    _rows_per_band,
    embedding_band_index,
    embedding_neardup_pairs,
    incremental_embedding_neardup_filter,
    incremental_neardup_filter,
    incremental_neardup_filter_sig,
    minhash_band_table,
    ngram_jaccard_pairs,
)
from sheetsetl_spark.sinks.base import Sink

#: events schema after the catalog's ns->us conversion (FIXTURES.md).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (parquet drops into input_dir)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # Watermarks require TIMESTAMP (with local tz), not TIMESTAMP_NTZ —
    # cast under the engine's pinned UTC session tz so wall-clock values
    # (and the batch twins' formatted strings) are preserved.
    return reader.parquet(input_dir).withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """B50/B51/B53: tumbling or sliding event-time aggregation with a
    watermark bounding state. Batch twin: b50_tumbling_window /
    b51_sliding_window."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """B52: session windows (gap-merged). Batch twin: b52_session_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "cnt",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """B54: streaming dedup on event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def enrich_stream(events: DataFrame, dim: DataFrame, on_left: str, on_right: str) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    static dimension snapshot, explicitly broadcast (the dim is
    dimension-sized by definition — at 100 TB the stream side never
    shuffles for this join)."""
    return events.join(F.broadcast(dim), events[on_left] == dim[on_right])


def purchase_click_attribution(
    events: DataFrame, horizon_s: int = 3600, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream self-join: each purchase matched to the same user's
    clicks within ``horizon_s`` seconds before it. The time-bound join
    condition plus watermarks on BOTH sides lets Spark expire join state —
    the requirement for unbounded streams. Batch twin: the same theta
    join on the static events table (tested equal)."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon_s} SECONDS"))
    )
    return p.join(c, cond).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


#: Output of the custom stateful operator below.
USER_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_value double"
#: Persisted state per user: running count + value sum (kept as a string-
#: rendered Decimal so cross-batch accumulation stays exact, matching the
#: engine's decimal-sum determinism contract).
_USER_STATE_SCHEMA = "n bigint, total string"


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): exact
    running per-user event count + value total, updated every micro-batch.

    This is the shape Spark's built-in windowed aggs can't express —
    arbitrary per-key state carried across micro-batches with exact
    decimal accumulation. State is one tiny row per user (bounded by the
    key cardinality, not the stream length); at 100 TB/day the state
    store shards with the shuffle partitioning like any keyed stream.
    Batch twin: ``SELECT user_id, COUNT(*), SUM(value) GROUP BY user_id``.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, "0")
        acc = Decimal(total)
        for pdf in pdfs:
            n += len(pdf)
            for v in pdf["value"]:
                # per-value quantize HALF_UP == Spark's cast(double as
                # decimal(18,6)) in the batch twin; the running sum is exact
                acc += Decimal(str(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        state.update((n, str(acc)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [float(acc)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_USER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """:func:`stateful_user_totals` on the transformWithStateInPandas API
    — Spark 4's successor to applyInPandasWithState: typed state handles
    (ValueState here; List/MapState for bigger shapes), explicit
    init/close lifecycle, timers, and a REQUIRED RocksDB state store
    (pair with ``session.apply_streaming_posture``). Same exact-decimal
    per-user running totals, same batch twin
    (``SELECT user_id, COUNT(*), SUM(value) GROUP BY user_id``).

    Environment gate (honest, like the multimodal codecs): Spark's TWS
    state server speaks protobuf to the Python worker, and
    ``google.protobuf`` is not installed in this container — so the
    operator raises a clear ImportError up front here, and its
    batch-equivalence test skips (tests/test_streaming.py). The
    capability itself is covered by :func:`stateful_user_totals`
    (applyInPandasWithState), which has no such dependency."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf (Spark's "
            "TWS state-server protocol); not installed in this environment "
            "— use stateful_user_totals (applyInPandasWithState) instead"
        ) from exc
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", _USER_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._totals.get() if self._totals.exists() else (0, "0")
            acc = Decimal(total)
            for pdf in rows:
                n += len(pdf)
                for v in pdf["value"]:
                    # per-value quantize HALF_UP == cast(double as
                    # decimal(18,6)) in the batch twin; running sum exact
                    acc += Decimal(str(v)).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
            self._totals.update((n, str(acc)))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [float(acc)]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType=USER_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


class UpsertForeachBatch:
    """B55: foreachBatch upsert — each micro-batch create-or-replaces the
    named output through the same Sink the batch pipeline uses (the
    streaming analog of the reference's in-place sheet overwrite,
    loader.py:168-183)."""

    def __init__(self, sink: Sink, name: str):
        self.sink = sink
        self.name = name
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        self.sink.write(batch_df, self.name)


def _write_batch(df: DataFrame, batch_id: int, path: str, *lead_cols: str) -> None:
    """Write ``df`` as micro-batch ``batch_id`` of the batch store at ``path``.

    The replay contract of every ``*IngestForeachBatch`` sink: the rows
    land in their own ``__batch_id=<id>`` partition (below any
    ``lead_cols`` partitions) through DYNAMIC partition overwrite, so
    writing a batch id again replaces that batch's slice and leaves
    every other batch untouched. foreachBatch may re-run a micro-batch
    after a failure; a sink that reads its own store while ingesting
    does so through :func:`_read_store` with ``exclude_batch`` set to
    the current id, so the replay sees the same state the first run saw
    (not its own earlier output, which every row would self-match). The
    per-batch computations are deterministic, so a replay rewrites the
    slice with identical rows: nothing is double-counted, and no row
    moves between stores."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*lead_cols, "__batch_id")
        .parquet(path)
    )


def _read_store(
    spark: SparkSession, path: str, exclude_batch: int | None = None
) -> DataFrame | None:
    """The batch store at ``path`` without its ``__batch_id`` column,
    leaving out batch ``exclude_batch`` when given; None while the
    directory holds no parquet data file — before the first write, and
    after only empty batches (an empty batch writes no partition)."""
    if not any(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
        return None
    store = spark.read.parquet(path)
    if exclude_batch is not None:
        store = store.filter(F.col("__batch_id") != exclude_batch)
    return store.drop("__batch_id")


def _read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Every batch of the store at ``path``, for a read-side merge; an
    empty store is a ValueError, not a Spark schema-inference error."""
    store = _read_store(spark, path)
    if store is None:
        raise ValueError("empty store: no batches ingested yet")
    return store


def _write_indexed_batch(
    survivors: DataFrame, batch_id: int, history_dir: str, index_dir: str, index_fn
) -> None:
    """Write ``survivors`` as batch ``batch_id`` of the history store, then
    ``index_fn`` of that batch AS READ BACK from its own partition
    directory as the same batch of the index store, so the index derives
    from exactly what history now holds. A batch without survivors writes
    no partition and has nothing to index."""
    _write_batch(survivors, batch_id, history_dir)
    back = _read_store(survivors.sparkSession, f"{history_dir}/__batch_id={batch_id}")
    if back is not None:
        _write_batch(index_fn(back), batch_id, index_dir)


def _drop_intra_batch_dups(
    batch_df: DataFrame, threshold: float, n: int, id_col: str, max_shingle_df: int | None
) -> DataFrame:
    """``batch_df`` without the larger-id member of every pair inside it
    whose exact word-n-gram Jaccard reaches ``threshold``: smaller id
    wins (the priority rule of semantic_dedup). The history filters never
    pair two new documents, so the text-dedup ingests drop new-vs-new
    near-dups here; the batch is small, so the shingle join is cheap.

    The survivors are persisted (released by the caller's
    ``cache_scope()``): the history filter's shingling, its widen probe,
    its final anti-join and the batch write all read them, and without
    the cache each of those re-runs the shingle self-join above."""
    intra = ngram_jaccard_pairs(
        batch_df, threshold=threshold, n=n, id_col=id_col, max_shingle_df=max_shingle_df
    )
    return scoped_persist(
        batch_df.join(intra.select(F.col("doc_b").alias(id_col)).distinct(), id_col, "left_anti")
    )


class DedupIngestForeachBatch:
    """Streaming corpus ingest with incremental near-dup filtering — the
    daily-crawl loop as a foreachBatch sink: every micro-batch is deduped
    within itself (smaller doc id wins) and against the ACCUMULATED
    history (operators/dedup.py::incremental_neardup_filter, asymmetric
    band join: history↔history pairs are never generated), survivors are
    appended to the history store, and the history feeds the next
    batch's filter. Replays follow the batch-store contract
    (:func:`_write_batch`). The banding (``bands`` must divide
    ``num_hashes``) is checked at construction, before anything is
    written.

    Cache safety: each call runs inside ``cache.cache_scope()``. The
    intra-batch survivors, and the filters' shingle streams and
    signature frames, are persisted, so the batch and its history are
    each shingled once, and every entry is unpersisted when the call
    returns — a long-running stream never pins caches from earlier
    micro-batches.

    At scale the history side's signatures would be a maintained table;
    here they derive from the history parquet per batch — the same
    asymmetry, O(new + collisions) per ingest either way."""

    def __init__(
        self,
        history_dir: str,
        threshold: float = 0.5,
        num_hashes: int = 32,
        bands: int = 8,
        n: int = 3,
        max_shingle_df: int | None = 1000,
        id_col: str = "doc_id",
    ):
        _rows_per_band(num_hashes, bands)
        self.history_dir = history_dir
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.max_shingle_df = max_shingle_df
        self.id_col = id_col
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        with cache_scope():
            new_docs = _drop_intra_batch_dups(
                batch_df, self.threshold, self.n, self.id_col, self.max_shingle_df
            )
            history = _read_store(batch_df.sparkSession, self.history_dir, batch_id)
            if history is not None:
                new_docs = incremental_neardup_filter(
                    new_docs,
                    history,
                    threshold=self.threshold,
                    num_hashes=self.num_hashes,
                    bands=self.bands,
                    n=self.n,
                    id_col=self.id_col,
                    max_shingle_df=self.max_shingle_df,
                )
            _write_batch(new_docs, batch_id, self.history_dir)


class SignatureDedupIngestForeachBatch:
    """The index-maintained variant of :class:`DedupIngestForeachBatch`:
    alongside the history parquet it maintains the minhash BAND TABLE
    (operators/dedup.py::minhash_band_table) and filters each new batch
    by estimated Jaccard against that index alone — per-ingest cost is
    O(new + collisions) with NO rescan of history text, the shape that
    holds when history is 100 TB and the daily batch is a fraction of a
    percent of it. Banding is checked at construction and each call runs
    inside ``cache.cache_scope()``, as in :class:`DedupIngestForeachBatch`.

    Explicitly approximate (minhash agreement estimates Jaccard to
    ~sqrt(J(1-J)/num_hashes)); use DedupIngestForeachBatch when exact
    verification is worth re-scanning history. History and index are
    both batch stores (:func:`_write_batch`).

    Known drift vs the one-shot c38 oracle twin: ``max_shingle_df`` is
    applied PER BATCH when each batch's signatures are built, while the
    oracle caps document frequency over the whole history at once — a
    boilerplate shingle spread thinly across many batches may never hit
    the per-batch cap here. The per-batch cap is the only one computable
    without rescanning history (the whole point of the index); set
    ``max_bucket_size`` so any resulting hot band buckets are capped at
    join time instead."""

    def __init__(
        self,
        history_dir: str,
        index_dir: str,
        threshold: float = 0.5,
        num_hashes: int = 32,
        bands: int = 8,
        n: int = 3,
        max_shingle_df: int | None = 1000,
        id_col: str = "doc_id",
        max_bucket_size: int | None = None,
    ):
        _rows_per_band(num_hashes, bands)
        self.history_dir = history_dir
        self.index_dir = index_dir
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n
        self.max_shingle_df = max_shingle_df
        self.id_col = id_col
        self.max_bucket_size = max_bucket_size
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        with cache_scope():
            new_docs = _drop_intra_batch_dups(
                batch_df, self.threshold, self.n, self.id_col, self.max_shingle_df
            )
            index = _read_store(batch_df.sparkSession, self.index_dir, batch_id)
            if index is not None:
                new_docs = incremental_neardup_filter_sig(
                    new_docs, index,
                    threshold=self.threshold, num_hashes=self.num_hashes,
                    bands=self.bands, n=self.n, id_col=self.id_col,
                    max_shingle_df=self.max_shingle_df,
                    max_bucket_size=self.max_bucket_size,
                )
            _write_indexed_batch(
                new_docs, batch_id, self.history_dir, self.index_dir,
                lambda survivors: minhash_band_table(
                    survivors, num_hashes=self.num_hashes, bands=self.bands,
                    n=self.n, id_col=self.id_col,
                    max_shingle_df=self.max_shingle_df,
                ),
            )


class EmbeddingDedupIngestForeachBatch:
    """Streaming ingest with index-maintained EMBEDDING near-dup
    filtering — the vector twin of :class:`SignatureDedupIngestForeachBatch`
    (and the dedup-flavored companion of :class:`IvfIndexIngestForeachBatch`):
    alongside the history parquet it maintains the hyperplane band index
    (operators/dedup.py::embedding_band_index — vectors ride along, so
    verification is EXACT cosine, not a Hamming estimate) and filters
    each micro-batch against that index alone. Per-ingest cost is
    O(new + collisions) with no history rescan.

    Intra-batch near-dups resolve smaller-id-wins via the batch-local
    pair finder (the batch is small; its band join is cheap), whose
    persisted signature frame is released when the call returns
    (``cache.cache_scope()``). Both
    steps use the hyperplane stack and the shared band join of
    operators/dedup.py (``_hyperplane_stack``, ``_band_join``). History
    and index are both batch stores (:func:`_write_batch`).

    Banding is PINNED at construction (default 32/4) and checked there
    (``dedup._rows_per_band``), before anything is written: the stored
    index must be self-consistent across batches — per-batch
    auto-derivation would mix band widths inside one index and break
    the equi-join. Size it for the EXPECTED final corpus up front, e.g.
    ``num_planes, bands = dedup.choose_banding(expected_corpus_rows)``
    (the r9-measured value-space law: 8-bit bands die at ~200k
    vectors); re-banding an existing index means rebuilding it."""

    def __init__(
        self,
        history_dir: str,
        index_dir: str,
        threshold: float = 0.98,
        num_planes: int = 32,
        bands: int = 4,
        dim: int = 64,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_bucket_size: int | None = None,
    ):
        _rows_per_band(num_planes, bands, "num_planes")
        self.history_dir = history_dir
        self.index_dir = index_dir
        self.threshold = threshold
        self.num_planes = num_planes
        self.bands = bands
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_bucket_size = max_bucket_size
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        with cache_scope():
            # intra-batch near-dups: smaller id wins
            intra = embedding_neardup_pairs(
                batch_df, threshold=self.threshold, num_planes=self.num_planes,
                bands=self.bands, dim=self.dim, id_col=self.id_col,
                vec_col=self.vec_col,
            )
            new_vecs = batch_df.join(
                intra.select(F.col("vec_b").alias(self.id_col)).distinct(),
                self.id_col, "left_anti",
            )
            index = _read_store(batch_df.sparkSession, self.index_dir, batch_id)
            if index is not None:
                new_vecs = incremental_embedding_neardup_filter(
                    new_vecs, index,
                    threshold=self.threshold, num_planes=self.num_planes,
                    bands=self.bands, dim=self.dim, id_col=self.id_col,
                    vec_col=self.vec_col, max_bucket_size=self.max_bucket_size,
                )
            _write_indexed_batch(
                new_vecs, batch_id, self.history_dir, self.index_dir,
                lambda survivors: embedding_band_index(
                    survivors, num_planes=self.num_planes, bands=self.bands,
                    dim=self.dim, id_col=self.id_col, vec_col=self.vec_col,
                ),
            )


def _live_bits(df: DataFrame, hash_col: str) -> int:
    """Highest live bit position across ``df[hash_col]``, one agg scan.

    Fingerprints are stored as signed BIGINT; a value with bit 63 set
    is negative, so the width must be derived from BOTH extremes: any
    negative observation means the sign bit is live and the honest
    answer is the full 64 (bit_length() of a negative long measures
    magnitude, not width — a -1 hash has bit_length 1 but occupies all
    64 stored bits). Empty frame → 0 (caller floors at ``bands``).
    """
    row = df.agg(
        F.max(hash_col).alias("mx"), F.min(hash_col).alias("mn")
    ).collect()[0]
    if row["mx"] is None:
        return 0
    if int(row["mn"]) < 0:
        return 64
    return int(row["mx"]).bit_length()


class MediaDedupIngestForeachBatch:
    """Streaming media ingest with index-maintained FINGERPRINT
    dedup — the binary-payload member of the incremental-dedup family
    (text: :class:`SignatureDedupIngestForeachBatch`; vectors:
    :class:`EmbeddingDedupIngestForeachBatch`). ``fingerprint_fn`` maps
    a media micro-batch to (id, ..., hash) rows — default
    ``multimodal.image_dhash``; pass ``audio_energy_hash`` (or any
    64-bit fingerprinting stage) for other modalities. Each batch is
    fingerprinted once; intra-batch (multimodal._banded_hamming_pairs)
    and batch-vs-index (multimodal.incremental_hamming_neardup_filter)
    near-dups drop via the Hamming stack and the shared band join of
    operators/dedup.py (``_band_join``), pigeonhole-exact; survivors'
    media rows append to history and their HASHES (not payloads) to
    the index, so the index stays tiny however large the media bytes
    are. The banding (``multimodal._hamming_banding``: 0 <= max_hamming
    < bands <= hash_bits <= 64, hash_bits=None checked as 64) is
    checked at construction, before anything is written. History and
    index are both batch stores (:func:`_write_batch`)."""

    def __init__(
        self,
        history_dir: str,
        index_dir: str,
        fingerprint_fn=None,
        hash_col: str = "dhash",
        max_hamming: int = 1,
        bands: int = 2,
        id_col: str = "media_id",
        hash_bits: int | None = None,
    ):
        from sheetsetl_spark.operators.multimodal import _hamming_banding

        _hamming_banding(max_hamming, bands, 64 if hash_bits is None else hash_bits)
        self.history_dir = history_dir
        self.index_dir = index_dir
        self.fingerprint_fn = fingerprint_fn
        self.hash_col = hash_col
        self.max_hamming = max_hamming
        self.bands = bands
        self.id_col = id_col
        # The banding MUST track the fingerprint's LIVE bit-width
        # (audio_energy_hash: n_frames-1 bits, often 31) — banding a
        # short hash over 64 leaves dead all-zero bands whose equi-join
        # is quadratic in the index size (the r8 100x c52 finding).
        # None (default) derives it per batch from the max observed
        # hash across batch + index — two 1-row aggs over the tiny
        # hash frames — so no caller has to remember the width; pass
        # an int only to pin it explicitly.
        self.hash_bits = hash_bits
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sheetsetl_spark.operators import multimodal as mm

        self.batches_seen.append(batch_id)
        fp = self.fingerprint_fn or mm.image_dhash

        hashes = fp(batch_df).select(
            self.id_col, self.hash_col
        ).localCheckpoint(eager=False)
        index = _read_store(batch_df.sparkSession, self.index_dir, batch_id)
        hash_bits = self.hash_bits
        if hash_bits is None:
            # derive the live width: max hash over batch + index (the
            # checkpoint above means the fingerprint mapInPandas runs
            # once, not once per consumer). Recall is banding-invariant
            # (pigeonhole needs only bands > max_hamming); the width
            # only kills dead all-zero bands.
            # Both extremes, one agg each: fingerprint_fn is pluggable,
            # and a custom fingerprint using bit 63 stores NEGATIVE
            # longs — F.max alone ignores them (or returns a small-
            # magnitude negative whose bit_length underestimates wildly)
            # and the collapsed width funnels every band into low bits,
            # reintroducing the quadratic candidate mass this derivation
            # exists to kill (ADVICE r9). Any negative ⇒ full 64 bits.
            live = _live_bits(hashes, self.hash_col)
            if index is not None:
                live = max(live, _live_bits(index, self.hash_col))
            hash_bits = min(64, max(live, self.bands))
        # intra-batch: smaller id wins. Collapse identical fingerprints
        # to their min-id representative FIRST — x is dominated iff some
        # smaller id sits within max_hamming, and every member of a hash
        # group g smaller than x exists iff min(g) < x, so running the
        # pairwise banded join over group minima yields the identical
        # survivor set while the candidate mass scales with DISTINCT
        # fingerprints, not rows (r10 100x replay: a batch of 50k
        # identical-dHash images was ~180s of duplicate-pair enumeration
        # in one band bucket; collapsed, it is one row).
        reps = hashes.groupBy(self.hash_col).agg(
            F.min(self.id_col).alias(self.id_col)
        )
        intra = mm._banded_hamming_pairs(
            reps, self.hash_col, self.id_col, self.max_hamming, self.bands,
            "m_a", "m_b", hash_bits=hash_bits,
        )
        keep = (
            hashes
            .join(reps.select(self.id_col), self.id_col, "left_semi")
            .join(
                intra.select(F.col("m_b").alias(self.id_col)).distinct(),
                self.id_col, "left_anti",
            )
        )
        if index is not None:
            keep = mm.incremental_hamming_neardup_filter(
                keep, index, hash_col=self.hash_col, id_col=self.id_col,
                max_hamming=self.max_hamming, bands=self.bands,
                hash_bits=hash_bits,
            )
        survivors = batch_df.join(
            keep.select(self.id_col), self.id_col, "left_semi"
        )
        _write_indexed_batch(
            survivors, batch_id, self.history_dir, self.index_dir,
            lambda back: fp(back).select(self.id_col, self.hash_col),
        )


class IvfIndexIngestForeachBatch:
    """Streaming maintenance of the persisted IVF index
    (operators/similarity.py::write_ivf_index): each micro-batch of new
    vectors is assigned against the FIXED centroid sidecar and appended
    into the centroid-partitioned index — O(batch x M) per ingest, no
    rescan of the stored lists, so search keeps partition-pruning as the
    index grows. The companion of SignatureDedupIngestForeachBatch on
    the vector side.

    The index is a batch store (:func:`_write_batch`) with ``cent_id``
    as lead partition column: the (cent_id, __batch_id) layout
    write_ivf_index builds, so a replay rewrites its own slice.

    Fixed-geometry caveat (documented, inherent to IVF): centroids are
    frozen at build time; if the embedding distribution drifts, rebuild
    the index (write_ivf_index) — assignments here always use the stored
    sidecar, never re-derive centroids from arriving data."""

    def __init__(self, index_dir: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.index_dir = index_dir
        self.id_col = id_col
        self.vec_col = vec_col
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from sheetsetl_spark.operators.similarity import (
            _centroids_path,
            _checked_norm,
            _dot,
        )

        self.batches_seen.append(batch_id)
        spark = batch_df.sparkSession
        cent = spark.read.parquet(_centroids_path(self.index_dir))
        e = batch_df.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        ).withColumn("vn", _checked_norm("v"))
        csim = _dot("v", "cv") / (F.col("vn") * F.col("cn"))
        w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
        assigned = (
            e.crossJoin(F.broadcast(cent))
            .select("vec_id", "v", "vn", "cent_id", csim.alias("csim"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("cent_id", "vec_id", "v", "vn")
        )
        _write_batch(assigned, batch_id, self.index_dir, "cent_id")


class SketchIngestForeachBatch:
    """Incrementally maintained count-min sketch over a document stream.

    Each micro-batch's token stream reduces to its (depth, bucket, cnt)
    cell increments (operators/text.py::cms_cells) and is written to the
    sketch batch store (:func:`_write_batch`) — CMS is a LINEAR sketch,
    so the groupBy-sum merge of all batches is EXACTLY the sketch a
    one-shot build over the full history would produce (no approximation
    drift from incremental maintenance; tested), and a replayed batch
    is not double-counted. Per-batch cost is one scan of the batch plus
    a <= depth x width write: nothing rescans history, the shape that
    holds when history is 100 TB.

    Read side: :meth:`merged_sketch` / :meth:`estimates` — heavy-hitter
    estimates from the merged store with the usual CMS guarantee
    (est >= exact, error <= 2N/width at confidence 1-(1/2)^depth).
    """

    def __init__(
        self,
        sketch_dir: str,
        width: int = 1024,
        depth: int = 4,
        text_col: str = "text",
    ):
        self.sketch_dir = sketch_dir
        self.width = width
        self.depth = depth
        self.text_col = text_col
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sheetsetl_spark.operators.text import cms_cells

        self.batches_seen.append(batch_id)
        cells = cms_cells(
            batch_df, width=self.width, depth=self.depth, text_col=self.text_col
        )
        _write_batch(cells, batch_id, self.sketch_dir)

    def merged_sketch(self, spark) -> DataFrame:
        return (
            _read_merged(spark, self.sketch_dir)
            .groupBy("depth", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def estimates(self, spark, probe_tokens: list[str]) -> DataFrame:
        from sheetsetl_spark.operators.text import cms_probe_estimates

        return cms_probe_estimates(
            spark,
            self.merged_sketch(spark),
            probe_tokens,
            width=self.width,
            depth=self.depth,
        )


class KmvIngestForeachBatch:
    """Incrementally maintained KMV distinct-count sketch per group —
    the streaming read-side twin of operators/profiling.py::kmv_distinct
    (c97's batch query).

    Merge property: the global k smallest hashes of a union are always
    drawn from each part's own k smallest (any hash outside a batch's
    k-min set is dominated by k batch-local hashes, hence by k global
    ones). So each micro-batch stores only its per-group k-min DISTINCT
    (group, hash) set in the batch store (:func:`_write_batch`) —
    bounded at k rows per group per batch — and the read-side merge
    (distinct -> per-group k-min) is EXACTLY the sketch a one-shot build
    over the full history would produce: no drift from incremental
    maintenance, tested against kmv_distinct's n_est.

    What the stream cannot give back is n_exact for groups past k —
    that is the point of a sketch (the batch operator keeps n_exact
    only to MEASURE error). Estimates follow the same rule: fewer than
    k merged hashes = exact count, else (k-1)*2^60/h_(k).
    """

    def __init__(
        self,
        store_dir: str,
        group_col: str,
        value_col: str,
        k: int = 64,
    ):
        self.store_dir = store_dir
        self.group_col = group_col
        self.value_col = value_col
        self.k = k
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        from sheetsetl_spark.operators.profiling import _kmv_hashes

        self.batches_seen.append(batch_id)
        w = Window.partitionBy("__g").orderBy("__h")
        kmin = (
            _kmv_hashes(batch_df, self.group_col, self.value_col)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.k)
            .select("__g", "__h")
        )
        _write_batch(kmin, batch_id, self.store_dir)

    def estimates(self, spark: SparkSession) -> DataFrame:
        """(group, n_est) from the merged store — identical to the
        batch operator's n_est over the full ingested history."""
        from sheetsetl_spark.operators.profiling import _kmv_estimates

        merged = _read_merged(spark, self.store_dir).distinct()
        return _kmv_estimates(merged, self.k).select(
            F.col("__g").alias(self.group_col),
            F.round("__est", 2).alias("n_est"),
        )


class QuantileSketchIngestForeachBatch:
    """Incrementally maintained fixed-edge histogram quantile sketch —
    the streaming read-side twin of x84_histogram_quantiles.

    x84's batch form derives its bin edges from the corpus min/max; a
    stream cannot (edges would drift batch to batch and early cells
    would be binned against stale edges). The production form pins the
    edges up front from the known value domain — then the histogram is
    a LINEAR sketch like CMS: per-batch (bin, cnt) cells in the batch
    store (:func:`_write_batch`) merge by groupBy-sum into EXACTLY the
    one-shot fixed-edge histogram, and quantile reads use the same
    interpolation arithmetic (:meth:`oneshot` is that one-shot build;
    parity tested). Values outside [lo, hi) clamp into the edge bins —
    the fixed-domain trade-off, stated rather than hidden.
    """

    def __init__(
        self,
        sketch_dir: str,
        lo: float,
        hi: float,
        bins: int = 100,
        value_col: str = "value",
        quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    ):
        if not hi > lo:
            raise ValueError("QuantileSketch: hi must exceed lo")
        if bins < 1:
            raise ValueError("QuantileSketch: bins must be >= 1")
        self.sketch_dir = sketch_dir
        self.lo = lo
        self.hi = hi
        self.bins = bins
        self.value_col = value_col
        self.qs = quantiles
        self.batches_seen: list[int] = []

    def _cells(self, df: DataFrame) -> DataFrame:
        width = (self.hi - self.lo) / float(self.bins)
        bin_col = F.greatest(
            F.lit(0),
            F.least(
                F.lit(self.bins - 1),
                F.floor((F.col(self.value_col) - F.lit(self.lo)) / F.lit(width)),
            ),
        )
        return (
            df.select(bin_col.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias("cnt"))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(self._cells(batch_df), batch_id, self.sketch_dir)
        self.batches_seen.append(batch_id)

    def _quantiles_from_hist(self, hist: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        width = (self.hi - self.lo) / float(self.bins)
        wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        wprev = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
        cum = hist.select(
            "bin",
            "cnt",
            F.sum("cnt").over(wcum).alias("cum"),
            F.coalesce(F.sum("cnt").over(wprev), F.lit(0)).alias("cum_before"),
            F.sum("cnt")
            .over(
                Window.orderBy("bin").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("n"),
        )
        frames = None
        for q in self.qs:
            frame = cum.select(F.lit(q).alias("q"), "bin", "cnt", "cum", "cum_before", "n")
            frames = frame if frames is None else frames.unionAll(frame)
        hit = (
            frames.filter(F.col("cum") >= F.col("q") * F.col("n"))
            .withColumn(
                "rn",
                F.row_number().over(Window.partitionBy("q").orderBy("bin")),
            )
            .filter(F.col("rn") == 1)
        )
        return hit.select(
            F.col("q").alias("quantile"),
            F.round(
                F.lit(self.lo)
                + (
                    F.col("bin")
                    + (F.col("q") * F.col("n") - F.col("cum_before"))
                    / F.col("cnt")
                )
                * F.lit(width),
                6,
            ).alias("estimate"),
        )

    def quantiles(self, spark: SparkSession) -> DataFrame:
        """(quantile, estimate) from the merged incremental store."""
        hist = (
            _read_merged(spark, self.sketch_dir)
            .groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
        )
        return self._quantiles_from_hist(hist)

    def oneshot(self, df: DataFrame) -> DataFrame:
        """The one-shot fixed-edge build over a batch DataFrame — the
        parity reference the merged stream must equal exactly."""
        return self._quantiles_from_hist(self._cells(df))


class ActiveUserIngestForeachBatch:
    """Incrementally maintained rolling-WAU state over an event stream —
    the streaming twin of the x78_rolling_wau batch query.

    The maintained state is the DISTINCT (day, user_id) pair set: each
    micro-batch reduces to its own distinct pairs, anti-joins the
    accumulated batch store (:func:`_write_batch`; the current batch is
    left out, so a replay reproduces the same new-pair set), and appends
    only NEVER-SEEN pairs — per-batch cost is O(batch + matching store
    keys), nothing rescans raw history. The pair store is the minimal
    sufficient statistic for any trailing-window distinct-user metric:
    days x users, orders of magnitude smaller than the event history.

    Read side: :meth:`wau` runs the same bounded-explode computation as
    the batch query (each active day covers <= 7 window-end days;
    dedupe; count) over the pair store.
    """

    def __init__(self, store_dir: str, window_days: int = 7):
        self.store_dir = store_dir
        self.window_days = window_days
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        pairs = batch_df.select(
            F.to_date("ts").alias("day"), "user_id"
        ).distinct()
        store = _read_store(batch_df.sparkSession, self.store_dir, batch_id)
        if store is not None:
            pairs = pairs.join(store, ["day", "user_id"], "left_anti")
        _write_batch(pairs, batch_id, self.store_dir)

    def wau(self, spark) -> DataFrame:
        """(day, wau_7d) for every day in the store's span — identical
        semantics to the x78 batch query over the ingested events."""
        active = _read_merged(spark, self.store_dir)
        bounds = active.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("wday"))
        cover = (
            active.select(
                F.explode(
                    F.sequence(
                        F.col("day"),
                        F.date_add(F.col("day"), self.window_days - 1),
                    )
                ).alias("wday"),
                "user_id",
            )
            .distinct()
        )
        counts = cover.groupBy("wday").agg(F.count("*").alias("wau_7d"))
        return spine.join(F.broadcast(counts), "wday", "left").select(
            F.col("wday").cast("string").alias("day"),
            F.coalesce("wau_7d", F.lit(0)).alias("wau_7d"),
        )


class DecontaminationIngestForeachBatch:
    """Streaming corpus ingest with an eval-leak GATE — the training-data
    intake loop where every arriving document is checked against a fixed
    eval-benchmark probe set before it may enter the corpus: clean docs
    append to the corpus parquet, contaminated docs (plus which probes
    they hit) land in a quarantine parquet for audit, and NOTHING is
    silently dropped.

    The check is the verbatim-substring family (operators/dedup.py):
    ``anchored=True`` routes probes with >= 2 interior words through
    the anchor-bigram equi-join (substring_decontaminate_anchored —
    corpus-scale probe sets, no broadcast) AND the remaining short
    probes through the broadcast `contains` path, unioning the hit
    pairs before the per-doc aggregate — the anchored operator alone
    drops sub-4-word probes by construction, so without the split a
    doc containing only a short probe verbatim sailed into the corpus
    as clean (r7 advice). Short probes are few and tiny by definition,
    so their broadcast is always affordable. ``anchored=False`` sends
    everything through the broadcast path. Probes load once per batch
    from a parquet dir — at production scale a maintained table, same
    asymmetry either way.

    Corpus and quarantine are both batch stores (:func:`_write_batch`)
    and the gate is deterministic, so a replay never flips a doc
    between them.
    """

    def __init__(
        self,
        probes_dir: str,
        corpus_dir: str,
        quarantine_dir: str,
        anchored: bool = True,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.probes_dir = probes_dir
        self.corpus_dir = corpus_dir
        self.quarantine_dir = quarantine_dir
        self.anchored = anchored
        self.id_col = id_col
        self.text_col = text_col
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        from sheetsetl_spark.operators.dedup import (
            _agg_probe_hits,
            substring_decontaminate,
            substring_decontaminate_anchored,
        )

        self.batches_seen.append(batch_id)
        spark = batch_df.sparkSession
        probes = spark.read.parquet(self.probes_dir)
        if self.anchored:
            # Split by the anchored operator's own minimum (4 words =
            # 2 interior words): long probes take the shuffle-join
            # path, short ones the broadcast path; empty splits cost
            # nothing (empty-side joins collapse at planning time).
            nwords = F.size(F.split(F.col("probe"), " "))
            pair_frames = [
                substring_decontaminate_anchored(
                    batch_df,
                    probes.filter(nwords >= 4),
                    id_col=self.id_col,
                    text_col=self.text_col,
                    return_pairs=True,
                ),
                substring_decontaminate(
                    batch_df,
                    probes.filter(nwords < 4),
                    id_col=self.id_col,
                    text_col=self.text_col,
                    return_pairs=True,
                ),
            ]
            pairs = pair_frames[0].unionByName(pair_frames[1])
            hits = _agg_probe_hits(pairs, self.id_col)
        else:
            hits = substring_decontaminate(
                batch_df, probes, id_col=self.id_col, text_col=self.text_col
            )
        quarantined = batch_df.join(hits, self.id_col)
        clean = batch_df.join(
            hits.select(self.id_col), self.id_col, "left_anti"
        )
        _write_batch(clean, batch_id, self.corpus_dir)
        _write_batch(quarantined, batch_id, self.quarantine_dir)


class HoltIngestForeachBatch:
    """Incrementally maintained daily-series store feeding Holt linear-
    trend smoothing — the streaming read-side twin of
    operators/incremental.py::holt_by_key (c100's batch query).

    Merge property: the daily frame is a LINEAR aggregate (per-(key,
    day) DECIMAL sums), so summing each micro-batch's partials in the
    batch store (:func:`_write_batch`) is EXACTLY the daily series a
    one-shot aggregation over the full history would produce — decimal
    addition is associative and order-free — and a replayed batch is
    not double-counted. The sequential Holt fold then runs over that
    identical bounded series, so the streaming estimate equals the batch
    operator's bit-for-bit (tested). Per-batch cost is one scan of the
    batch plus a (keys x days-touched) write; nothing rescans history.
    """

    def __init__(
        self,
        store_dir: str,
        key_col: str,
        date_col: str,
        value_col: str,
    ):
        self.store_dir = store_dir
        self.key_col = key_col
        self.date_col = date_col
        self.value_col = value_col
        self.batches_seen: list[int] = []

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches_seen.append(batch_id)
        daily = batch_df.groupBy(
            F.col(self.key_col).alias("__k"),
            F.to_date(self.date_col).alias("__day"),
        ).agg(
            F.sum(F.col(self.value_col).cast("decimal(18,6)")).alias("__part")
        )
        _write_batch(daily, batch_id, self.store_dir)

    def smoothed(self, spark: SparkSession) -> DataFrame:
        """(key, n_points, level, trend, forecast_7) over the merged
        store — identical to holt_by_key over the full ingested
        history (the per-day decimal partials merge exactly)."""
        from sheetsetl_spark.operators.incremental import holt_by_key

        merged = (
            _read_merged(spark, self.store_dir)
            .groupBy("__k", "__day")
            .agg(F.sum("__part").cast("double").alias("__x"))
        )
        return holt_by_key(
            merged, key_col="__k", order_col="__day", value_col="__x"
        )
