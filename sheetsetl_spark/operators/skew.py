"""Skew-mitigation join (100 TB posture).

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but only for sort-merge joins after stats are known. This
operator is the explicit fallback for planned skew — a known-hot key
(e.g. a null-heavy foreign key, a celebrity user_id) whose rows would
otherwise land in one reducer partition.

Pattern: scatter the probe (large/skewed) side across ``salt`` sub-keys,
replicate the build side ``salt`` times, join on (key, salt). The hot
key's rows now occupy ``salt`` partitions instead of one; the cost is a
``salt``× blow-up of the (small) build side only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with the left (probe/skewed) side salted and the right
    (build) side replicated ``salt`` times. Semantically identical to
    ``left.join(right, on, how)`` for how in inner/left; the salt column
    never escapes. Seeded rand keeps runs reproducible."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner|left, got {how!r}")
    if salt < 2:
        raise ValueError("salt must be >= 2")
    l_salted = left.withColumn(_SALT, F.floor(F.rand(seed=42) * salt).cast("int"))
    r_replicated = right.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return l_salted.join(r_replicated, [*on, _SALT], how).drop(_SALT)


def skew_report(
    df: DataFrame,
    key_col: str,
    top: int = 10,
    max_salt: int = 32,
) -> DataFrame:
    """Join/agg-key skew diagnostics: the table an engineer reads before
    choosing between plain shuffle, AQE skew split, and salted_join.

    For the ``top`` hottest keys: row count, corpus share, skew ratio
    (count / mean-rows-per-key), and the salt factor that would level
    that key's partition back to the mean (capped at ``max_salt`` —
    beyond that the key wants the broadcast or AQE path, not salting).

    Scale shape: one map-side-combining groupBy on the key; totals are a
    broadcast one-row re-aggregate of the key-count table (the corpus is
    scanned once); top-N via TakeOrderedAndProject. The report is
    O(distinct keys) intermediate, O(top) output.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("cnt")
    )
    stats = counts.agg(
        F.sum("cnt").alias("__total"), F.count("*").alias("__keys")
    )
    ratio = F.col("cnt") / (F.col("__total").cast("double") / F.col("__keys"))
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
            F.round(ratio, 6).alias("skew_ratio"),
            F.least(F.ceil(ratio), F.lit(max_salt)).cast("int").alias("suggested_salt"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(top)
    )


def widen_to_cores(df, min_input_bytes: int = 2 << 20, files=None, fanout: float = 1.0):
    """Widen-only repartition: spread ``df`` across defaultParallelism
    when its scan exposes fewer splits than the cluster has cores.

    Compactly-written parquet (few row groups) caps a whole downstream
    pipeline's parallelism at the split count — the r9 find was the
    100x embeddings fixture exposing 8 row groups on 32 cores, so the
    most expensive pass of every embedding operator ran at 1/4
    utilization (and the 10x file: 2 splits). Only ever WIDENS: a real
    cluster scan with thousands of splits passes through untouched, so
    this never funnels a large corpus into a driver-chosen partition
    count. Use at the head of compute-dense per-row pipelines
    (signature projection, normalize folds, centroid assignment), not
    in front of plain scans — the shuffle only pays for itself when
    per-row work dominates.

    ``min_input_bytes`` keeps the exchange away from inputs too small
    to amortize it: the repartition's fixed ~0.3-0.5s (extra stage +
    shuffle files) regressed sub-second ANN queries past their bench
    pins on the 0.8 MB sf0.1 fixture while buying nothing. When the
    frame's lineage reaches readable local files, their summed size
    gates the widen AND supplies the split estimate — no ``df.rdd``
    probe, which would force a physical-plan build on the driver for
    every call site (tens per bench session; a real driver-latency
    tax with wide plans on a large cluster). Frames with no file
    lineage (streaming micro-batches, createDataFrame fixtures) or
    with non-local files fall back to the partition probe.

    The file path assumes the frame is (close to) a RAW SCAN — its
    estimate is blind to plan-level re-partitioning (ADVICE r10): a
    frame explicitly narrowed downstream (``coalesce(1)`` before the
    compute-dense op) would otherwise be returned unwidened whenever
    the source files look wide enough, and a frame already shuffled
    wide over small files would pay a redundant exchange. So when the
    LOGICAL plan contains a Repartition/RebalancePartitions node (a
    cheap string probe — no physical planning), the exact partition
    probe decides instead; every repo call site is a raw scan, so the
    fallback only fires for exotic callers.

    ``files``: explicit file list overriding ``df.inputFiles()`` — for
    callers whose scan is PARTITION-PRUNED by a literal filter
    (search_ivf_index's probed ``cent_id=`` directories): inputFiles()
    enumerates the WHOLE table, so the estimate would see nprobe/M
    times too many splits and skip the widen (the r10 negative
    result); the caller lists the pruned directories itself.

    ``fanout``: the caller's estimate of how much a downstream explode
    multiplies per-row work (r11). The ``min_input_bytes`` gate exists
    to compare the exchange's fixed cost against the work it spreads,
    but for a pre-explode scan the work is ``fanout`` times the input
    bytes — a 0.6 MB document table exploding to ~300 q-grams per doc
    does ~180 MB of downstream string work on the ONE split the scan
    exposes (the x103/c82 shape: the whole gram/shingle generation ran
    on a single core). The gate therefore tests ``bytes * fanout``;
    the split ESTIMATE stays on raw bytes because splits, not work,
    cap scan parallelism. Only the gate changes: a genuinely large
    corpus still passes through unwidened once its scan is wide.
    """
    want = df.sparkSession.sparkContext.defaultParallelism
    total, splits = _scan_splits(df, files)
    if total is not None and total * fanout < min_input_bytes:
        return df
    if splits >= want:
        return df
    return df.repartition(want)


def spread_by_key(df, cols: list[str]):
    """Deterministic hash-repartition by ``cols``, sized like
    :func:`widen_to_cores` — for pipelines whose downstream groupBys are
    all keyed by ``cols`` (or a superset).

    ``HashPartitioning(cols)`` satisfies the clustered distribution of
    ANY aggregation whose grouping keys contain ``cols`` (guide §2.4:
    operations keyed the same way share one exchange), so spreading the
    compact input row ONCE lets every downstream per-key groupBy skip
    its own exchange. For the shingle/q-gram pipelines this replaces one
    or two full token/shingle-stream exchanges (post-explode, ~n× the
    text bytes) with a single document-stream exchange (pre-explode,
    the text bytes themselves) — fewer bytes shuffled at every scale,
    not a local-mode tune. Unlike widen_to_cores this always
    repartitions (the exchange SUBSTITUTES for a mandatory downstream
    one rather than adding a new one), and it uses an explicit partition
    count so AQE cannot coalesce a tiny pre-explode input back below
    cluster width before the explode multiplies its work. The count is
    max(defaultParallelism, estimated scan splits): never narrower than
    the cluster, never narrower than a genuinely wide scan. Keys must
    be high-cardinality (one doc id per row); a low-cardinality key
    would funnel the data into |distinct| effective groups.
    """
    _, splits = _scan_splits(df)
    n = max(df.sparkSession.sparkContext.defaultParallelism, splits)
    return df.repartition(n, *[F.col(c) for c in cols])


def _scan_splits(df, files=None) -> tuple[int | None, int]:
    """(input bytes, scan splits) of ``df`` — the split estimator of
    :func:`widen_to_cores` and :func:`spread_by_key`.

    When the frame's lineage reaches readable local files (``files``
    overrides ``df.inputFiles()``) and its logical plan carries no
    explicit repartition, both come from the file sizes: each file
    yields ~ceil(size / maxPartitionBytes) splits, estimated without
    touching ``df.rdd`` (Spark may produce more when bytes-per-core
    shrinks maxSplitBytes below the conf value, i.e. only on inputs
    already near full width). Otherwise the bytes are None and the
    splits come from the partition probe ``df.rdd.getNumPartitions()``."""
    if files is None:
        try:
            files = df.inputFiles()
        except Exception:
            files = []
    sizes = _local_file_sizes(files) if files else None
    if sizes is None or _has_explicit_repartition(df):
        return None, df.rdd.getNumPartitions()
    max_split = _parse_bytes_conf(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    return sum(sizes), sum(-(-s // max_split) for s in sizes)


def _has_explicit_repartition(df) -> bool:
    """True when the frame's LOGICAL plan carries an explicit
    repartition/coalesce/rebalance node, so the source-file split
    estimate cannot speak for the frame's actual partitioning.
    Inspects the parsed logical plan's string — analysis-free and
    physical-plan-free, so it stays off the driver-latency path the
    file estimate exists to protect. Unreadable plan → True (be
    conservative: fall back to the exact probe)."""
    try:
        plan = df._jdf.queryExecution().logical().toString()
    except Exception:
        return True
    return "Repartition" in plan or "RebalancePartitions" in plan


def _local_file_sizes(files):
    """Sizes of the scan's input files, or None if any is non-local or
    unreadable (remote FS → caller falls back to the partition probe)."""
    import os
    from urllib.parse import unquote, urlparse

    sizes = []
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.path.getsize(unquote(p.path)))
        except OSError:
            return None
    return sizes


def _parse_bytes_conf(value: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '128m', '1g')
    — the full Spark unit set through t/tb and p/pb (Spark's
    JavaUtils.byteStringAsBytes accepts them, so a cluster may
    legitimately set a terabyte maxPartitionBytes). An unparseable
    value falls back to Spark's 128 MB default, and LOUDLY: a silent
    fallback would overestimate splits and skip widens with no signal
    (ADVICE r10)."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(value))
    mult = None
    if m:
        mult = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50,
                "pb": 1 << 50}.get(m.group(2).lower())
    if mult is None:
        import warnings

        warnings.warn(
            f"unparseable spark.sql.files.maxPartitionBytes {value!r}; "
            f"assuming the 128 MB default for the split estimate",
            stacklevel=4,
        )
        return 128 << 20
    return int(m.group(1)) * mult
