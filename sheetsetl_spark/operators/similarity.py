"""Similarity-search operators (SURVEY §2-C C3/C5): exact cosine top-k and
an LSH-bucketed approximate variant over ArrayType(Float) embeddings.

Scale design: the exact form broadcasts the (small) query set against the
candidate corpus — at 100 TB the corpus side streams through executors
once, per-query top-k folds inside TakeOrdered-style windows. The LSH form
buckets by random-hyperplane signatures so candidate generation is an
equi-join, the ANN pattern that survives billion-vector corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sheetsetl_spark.functions.lits import lit_double_array


def _dot(a: str, b: str) -> Column:
    """Double-precision dot product via zip_with + left-fold aggregate.

    The fold is sequential over the array, so the result is bit-exact and
    reproducible (matches DuckDB's list_dot_product on the same doubles).

    Built as ONE parsed SQL expression: the Python-lambda HOF form costs
    ~40 py4j round-trips per construction (~0.04s on this host's ~2.7ms
    round-trip latency), paid at every DataFrame BUILD of every cosine
    consumer; the parsed string yields the identical Catalyst tree
    (bit-equality property-tested) for one round-trip. (r11)
    """
    return F.expr(
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _checked_norm(vec: str) -> Column:
    """sqrt(<v,v>), failing LOUDLY on a NULL or all-zero vector.

    A zero-norm vector has no direction: its cosine is 0/0 = NaN, and
    Spark's descending sort ranks NaN FIRST — so one degenerate row
    silently becomes every query's top "neighbor". Same hazard/fix class
    as pca_moments' width guard (ADVICE r4): the raise_error turns
    silent corruption into an actionable failure.

    The guard lives in ``aggregate``'s ``finish`` lambda, where the
    squared-norm sum ``s`` is a bound scalar: the d-element fold runs
    exactly ONCE per row. The naive ``when(n > 0, n).otherwise(raise)``
    over a full norm expression referenced the fold from both the
    condition and the branch — measured ~18% slower on the IVF search
    (r6 guard-cost A/B) when subexpression elimination didn't collapse
    the duplicate. NaN/NULL sums fail the ``s > 0`` test and raise, same
    as before. One parsed SQL expression for the same py4j-round-trip
    reason as :func:`_dot` (r11)."""
    return F.expr(
        f"aggregate(zip_with(`{vec}`, `{vec}`, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x, "
        "s -> CASE WHEN s > 0 THEN sqrt(s) ELSE raise_error("
        "'cosine operators: NULL or zero-norm vector has no "
        "direction; filter such rows out first') END)"
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C3 exact baseline: brute-force cosine top-k for each query vector.

    Output: (query_id, neighbor_id, rank, sim) with sim rounded to 6 for
    hash-stability; rank ties broken by neighbor id.
    """
    from sheetsetl_spark.operators.skew import widen_to_cores

    # Norms are computed ONCE per row in each side's projection — inside
    # the pair expression they'd be re-derived |queries|x per corpus row.
    # The corpus side (norm fold + |q| dots per row, all interpreted)
    # widens past the fixture's row-group parallelism; the query side
    # is broadcast-tiny.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _checked_norm("qv"))
    c = widen_to_cores(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _checked_norm("cv"))
    sim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "nn_rank", F.round("sim", 6).alias("sim"))
    )


def hyperplanes(num_planes: int, dim: int, tag: str = "sheetsetl") -> list[list[float]]:
    """Deterministic pseudo-random ±1 hyperplanes (seeded, platform-free).

    Driver-side literals shared by the Spark plan AND the DuckDB oracle SQL
    (inlined), so LSH bucketing is bit-identical across both engines."""
    import hashlib

    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{tag}:{p}:{d}".encode()).digest()
            row.append(1.0 if h[0] % 2 == 0 else -1.0)
        planes.append(row)
    return planes


_hyperplanes = hyperplanes


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C3 scale path #2: IVF (inverted-file) ANN — coarse-quantize the
    corpus into ``num_centroids`` lists, probe the ``nprobe`` nearest lists
    per query, exact cosine only within probed lists.

    Centroids are a deterministic subset (``vec_id < num_centroids``) so
    the whole operator is reproducible and DuckDB-oracle-checkable — unlike
    k-means seeding, which would force a weaker rows-only check. At 100 TB
    the assignment pass is one broadcast(M)×corpus map (no shuffle); the
    probe join touches only nprobe/M of the corpus, and the inverted lists
    can be persisted bucketed-by-centroid so repeated query batches skip
    the assignment scan entirely.
    """
    from sheetsetl_spark.operators.skew import widen_to_cores

    # One norm per vector/centroid/query, computed in the projections and
    # carried through every stage — never re-derived inside pair math.
    # Corpus side widened: assignment is |centroids| interpreted dots
    # per row, capped at the fixture's row-group count otherwise.
    e = widen_to_cores(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", _checked_norm("v"))
    cent = e.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("vn").alias("cn")
    )
    csim = _dot("v", "cv") / (F.col("vn") * F.col("cn"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "vn", "cent_id", csim.alias("csim"))
        .withColumn("__rn", F.row_number().over(w_assign))
        .filter(F.col("__rn") == 1)
        .select("vec_id", "v", "vn", "cent_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _checked_norm("qv"))
    qsim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w_probe = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("cent_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "qn", "cent_id", qsim.alias("qsim"))
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", "qn", "cent_id")
    )
    sim = _dot("qv", "v") / (F.col("qn") * F.col("vn"))
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "nn_rank", F.round("sim", 6).alias("sim"))
    )


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = False,
) -> DataFrame:
    """C3 scale path: banded random-hyperplane LSH (the OR-construction),
    then exact cosine over the candidate union.

    The signature is ``num_planes`` sign bits split into ``bands`` bands;
    a corpus vector is a candidate for a query if ANY band matches — the
    multi-table trick that lifts recall from the single-bucket form's
    ~1/2^planes collision rate to near-1 for true neighbors (defaults:
    4 bands x 4 bits — each band is a 16-bucket partition, so a query
    meets ~corpus/16 candidates per band instead of corpus/65536 with
    one 16-bit bucket). Candidates come from a (band_idx, band_val)
    equi-join against the broadcast query bands; exact cosine runs only
    on the distinct candidate set. Approximate (recall measured by
    c35_ann_recall); deterministic given the seeded planes, so the full
    pipeline is still hash-checked against its DuckDB twin.

    ``multiprobe=True`` adds MULTI-PROBE LSH (Lv et al., VLDB'07): each
    QUERY band additionally probes the buckets at Hamming distance 1
    (every single-bit flip of its band value) — a near-neighbor that
    fell just across a hyperplane in every band is still found. Probing
    is query-side only (1 + bits_per_band probes per band), so the
    corpus index is UNCHANGED — the standard trade that buys recall
    with probes instead of more index tables; candidates are a strict
    superset of the single-probe form, and the verify stage is already
    candidate-proportional. Recall lift measured by c91."""
    if num_planes % bands:
        raise ValueError(f"num_planes={num_planes} not divisible by bands={bands}")
    planes = _hyperplanes(num_planes, dim)
    # single-expr literal: the per-element F.lit form cost ~1.8s of py4j
    # Whole projection as parsed SQL expressions (plane matrix inlined):
    # per-element F.lit + Python-lambda HOFs cost seconds of py4j
    # round-trips per DataFrame BUILD (functions/lits.py rationale; r11)
    matrix_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")"
            for row in planes
        )
        + ")"
    )
    rpb = num_planes // bands

    def sig(df: DataFrame, out: str) -> DataFrame:
        vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
        bits = F.expr(
            f"concat_ws('', transform({matrix_sql}, "
            f"row -> CAST(aggregate(zip_with(row, {vec_sql}, "
            "(a, b) -> a * b), 0.0D, (acc, x) -> acc + x) > 0 AS INT)))"
        )
        # norm once per row here, not per candidate pair in the verify;
        # the guard lives in aggregate's FINISH lambda so the d-element
        # fold runs once (this site previously evaluated it twice inside
        # when/sqrt — the r6 _checked_norm duplicate-fold lesson).
        norm = F.expr(
            f"aggregate(zip_with({vec_sql}, {vec_sql}, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x, "
            "s -> CASE WHEN s > 0 THEN sqrt(s) ELSE raise_error("
            "'cosine_topk_lsh: NULL or zero-norm vector has no "
            "direction; filter such rows out first') END)"
        )
        return df.select(
            F.col(id_col).alias(out),
            F.expr(vec_sql).alias(f"{out}_v"),
            norm.alias(f"{out}_n"),
            bits.alias(f"{out}_bits"),
        )

    from sheetsetl_spark.operators.skew import widen_to_cores

    q = sig(queries, "query_id")
    # corpus-side signature = num_planes x dim interpreted multiply-adds
    # per row — widen past the fixture's row-group parallelism
    c = sig(widen_to_cores(embeddings), "neighbor_id")

    def stacked(df: DataFrame, out: str) -> DataFrame:
        band_arr = F.array(
            *[F.substring(f"{out}_bits", b * rpb + 1, rpb) for b in range(bands)]
        )
        return df.select(
            F.col(out), F.posexplode(band_arr).alias("band_idx", "band_val")
        )

    q_stacked = stacked(q, "query_id")
    if multiprobe:
        # 1-perturbation probe set: the band value itself plus every
        # single-bit flip (flips are pairwise distinct by construction,
        # so no dedup is needed before the candidate distinct)
        def flip(val, j):
            return F.concat(
                F.substring(val, 1, j - 1),
                F.when(F.substring(val, j, 1) == "1", F.lit("0")).otherwise(
                    F.lit("1")
                ),
                F.substring(val, j + 1, rpb - j),
            )

        probe_arr = F.array(
            F.col("band_val"),
            *[flip(F.col("band_val"), j) for j in range(1, rpb + 1)],
        )
        q_stacked = q_stacked.select(
            "query_id", "band_idx", F.explode(probe_arr).alias("band_val")
        )

    candidates = (
        stacked(c, "neighbor_id")
        .join(F.broadcast(q_stacked), ["band_idx", "band_val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    joined = candidates.join(c, "neighbor_id").join(
        F.broadcast(q.select("query_id", "query_id_v", "query_id_n")), "query_id"
    )
    dot = F.aggregate(
        F.zip_with(F.col("query_id_v"), F.col("neighbor_id_v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        (dot / (F.col("query_id_n") * F.col("neighbor_id_n"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "nn_rank", F.round("sim", 6).alias("sim"))
    )


def group_centroids(
    embeddings: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-group mean vector in long form (group, dim 1-based, centroid) —
    the training step of an IVF index (operators/similarity.py::cosine_topk_ivf
    probes these) and the class-prototype primitive for embedding QA.

    posexplode flattens each vector once, then one hash aggregation on
    (group, dim) computes every component: dims never meet on a single
    node, so a 100 TB corpus reduces to groups x dim cells with map-side
    partial aggregation and no driver involvement. Cross-row sums use
    exact DECIMAL accumulation (associative), keeping the result
    independent of partitioning.
    """
    ex = embeddings.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim0", "v"),
    )
    return (
        ex.groupBy(group_col, (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count("*"),
                round_to,
            ).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )
    )


def int8_quantize(vec: Column, eps: float = 1e-12) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization: scale = 127/max|v_i|,
    q_i = floor(v_i * scale + 0.5). Returns (quantized array, scale).

    floor(x + 0.5) instead of round() on purpose — identical IEEE
    semantics in Spark and DuckDB (ROUND half-away/half-even varies), so
    the quantized grid is bit-identical across engines. Cosine over the
    quantized vectors needs no dequantize: the scales cancel.
    """
    scale = F.lit(127.0) / F.greatest(
        F.array_max(F.transform(vec, lambda x: F.abs(x))), F.lit(eps)
    )
    return F.transform(vec, lambda x: F.floor(x * scale + F.lit(0.5))), scale


def cosine_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C3 memory-scale path: exact top-k over int8-quantized vectors.

    At 100 TB of fp32 embeddings the scan is bandwidth-bound; int8 cuts
    the bytes moved 4x and the integer dot products stay exact (64 dims x
    127^2 << 2^53), so the whole approximate pipeline is deterministic
    and DuckDB-hash-checkable — quantization error only perturbs the
    ranking, never the reproducibility. Same broadcast-queries x
    streamed-corpus shape as the exact baseline; in production the
    quantized corpus is materialized once and re-scanned per query batch.
    """
    def q(df: DataFrame, out: str) -> DataFrame:
        vec = F.col(vec_col).cast("array<double>")
        qv, _ = int8_quantize(vec)
        sel = df.select(F.col(id_col).alias(out), qv.alias(f"{out}_qv"))
        return sel.withColumn(f"{out}_qn", _checked_norm(f"{out}_qv"))

    from sheetsetl_spark.operators.skew import widen_to_cores

    qs = q(queries, "query_id")
    # corpus-side quantize + norm are interpreted folds per row — the
    # compute-dense case widen_to_cores exists for; the query side is
    # broadcast-tiny and stays as-is
    c = q(widen_to_cores(embeddings), "neighbor_id")
    sim = _dot("query_id_qv", "neighbor_id_qv") / (
        F.col("query_id_qn") * F.col("neighbor_id_qn")
    )
    scored = (
        c.crossJoin(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "nn_rank", F.round("sim", 6).alias("sim"))
    )


def kmeans_refine(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means refinement with deterministic seeding (centroids
    init = ``id < k``), fixed ``iters`` assignment+mean rounds. Returns
    the final centroids long-form: (cent_id, dim, centroid, n_vectors).

    Determinism contract: squared-Euclidean argmin with cent_id
    tiebreak; per-dim means via exact DECIMAL(18,9) sums (associative,
    partitioning-independent); centroid arrays rebuilt with an explicit
    (dim, value) sort — so the WHOLE iterative pipeline, not just one
    step, hash-matches a DuckDB twin. Empty clusters drop out of the next
    round on both engines identically.

    Scale: per round the corpus is scanned once against broadcast(k)
    centroids (no shuffle), then one (cent_id, dim)-keyed agg whose
    output is k x dim cells — the classic distributed-Lloyd shape. The
    plan is static (iters is small and fixed); for large iteration counts
    checkpoint between rounds like functions/iterative.py does.
    """
    from sheetsetl_spark.operators.skew import widen_to_cores

    # Widened (the r9/r10 ladder rule: the assignment is k interpreted
    # dots per row, capped at a compact fixture's row-group count
    # otherwise) and PINNED: every iteration's assign() re-reads e, so
    # without the checkpoint each round re-derives the vv fold from the
    # source scan (derived frame, never a raw pruned scan).
    e = widen_to_cores(vectors).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vv", _dot("v", "v")).localCheckpoint(eager=False)
    cent = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )

    def assign(cent_df: DataFrame) -> DataFrame:
        c = cent_df.withColumn("cc", _dot("cv", "cv"))
        dist2 = F.col("vv") - 2 * _dot("v", "cv") + F.col("cc")
        w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cent_id"))
        return (
            e.crossJoin(F.broadcast(c))
            .select("vec_id", "v", "vv", "cent_id", dist2.alias("d2"))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vec_id", "v", "vv", "cent_id")
        )

    def means_long(assigned: DataFrame) -> DataFrame:
        ex = assigned.select(
            "cent_id", F.posexplode("v").alias("dim0", "val")
        )
        return ex.groupBy("cent_id", (F.col("dim0") + 1).alias("dim")).agg(
            (
                F.sum(F.col("val").cast("decimal(18,9)")).cast("double") / F.count("*")
            ).alias("centroid"),
            F.count("*").alias("n_vectors"),
        )

    assigned = None
    for _ in range(iters):
        assigned = assign(cent)
        long = means_long(assigned)
        cent = (
            long.groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("centroid")))
                ).alias("s")
            )
            .select("cent_id", F.transform("s", lambda x: x["centroid"]).alias("cv"))
        )
    return means_long(assigned).select(
        "cent_id", "dim", F.round("centroid", 6).alias("centroid"), "n_vectors"
    )


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """C3: hard-negative mining for contrastive/embedding training — for
    each query vector, the top-k most-cosine-similar corpus vectors with
    a DIFFERENT label (maximally-confusable negatives; easy negatives are
    plentiful and uninformative).

    Output: (query_id, neighbor_id, neg_rank, sim), sim rounded to 6,
    rank ties broken by neighbor id.

    Same plan shape as :func:`cosine_topk` (broadcast query set x
    streamed corpus, per-query keyed window): the label-mismatch filter
    rides the scored projection, so mining costs no more than plain
    top-k. At billion-vector scale substitute the IVF candidate stage
    (:func:`cosine_topk_ivf`) and apply the same label filter on its
    candidates.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("qn", _checked_norm("qv"))
    from sheetsetl_spark.operators.skew import widen_to_cores

    # Corpus side widened (r10, same ladder rule as cosine_topk): the
    # scored projection is |q| interpreted dots per corpus row.
    c = widen_to_cores(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__clabel"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", _checked_norm("cv"))
    sim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("__qlabel") != F.col("__clabel"))
        )
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    # round6_bin (not plain round): cosine is irrational, the exact
    # cross-engine half-boundary class ADVICE r4 flagged
    from sheetsetl_spark.operators.text import round6_bin

    return (
        scored.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id", "neighbor_id", "neg_rank",
            round6_bin(F.col("sim")).alias("sim"),
        )
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF inverted lists as parquet PARTITIONED BY
    centroid — the persisted form of :func:`cosine_topk_ivf`'s
    assignment stage. At 100 TB the assignment is the dominant cost of
    every ad-hoc IVF search; building the index once turns each later
    query batch into a partition-PRUNED read of the nprobe/M probed
    lists (Catalyst prunes ``cent_id=...`` directories before any I/O;
    plan-tested) plus the in-list exact cosine.

    Layout: one directory per ``cent_id`` holding (vec_id, v double[],
    vn). Deterministic (same centroid rule as cosine_topk_ivf:
    ``vec_id < num_centroids``), so a rebuild is byte-stable and
    :func:`search_ivf_index` over the index equals the direct operator
    exactly (tested)."""
    from sheetsetl_spark.operators.skew import widen_to_cores

    # Same widen as the direct operator (r9 ladder fix, applied here
    # r10): the assignment is |centroids| interpreted dots per row and
    # a compact corpus parquet exposes 1-8 row-group splits — unwidened,
    # the 100x build ran at 1/4 utilization (117.9s vs ~34s widened).
    e = widen_to_cores(embeddings).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", _checked_norm("v"))
    cent = e.filter(F.col("vec_id") < num_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("vn").alias("cn")
    )
    csim = _dot("v", "cv") / (F.col("vn") * F.col("cn"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("cent_id"))
    assigned = (
        e.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "vn", "cent_id", csim.alias("csim"))
        .withColumn("__rn", F.row_number().over(w_assign))
        .filter(F.col("__rn") == 1)
        .select("cent_id", "vec_id", "v", "vn")
        # base build writes batch -1: the same (cent_id, __batch_id)
        # layout the streaming ingest appends into
        # (streaming/pipeline.py::IvfIndexIngestForeachBatch)
        .withColumn("__batch_id", F.lit(-1))
    )
    # Cluster rows by centroid before the partitioned write: without
    # this every shuffle partition holds rows of many centroids and the
    # writer emits up to (shuffle partitions x |centroids|) small files
    # — hash-clustered, each partition directory gets ~1 well-sized
    # file, which is also what the pruned reopen scan wants to read.
    assigned = assigned.repartition(F.col("cent_id"))
    assigned.write.mode("overwrite").partitionBy("cent_id", "__batch_id").parquet(path)
    # centroids persist as their own TINY table: search must never scan
    # the corpus partitions just to recover the probe geometry
    cent.write.mode("overwrite").parquet(_centroids_path(path))


def _centroids_path(path: str) -> str:
    return path.rstrip("/") + "__centroids"


def _pruned_index_files(path: str, probed_ids) -> list[str]:
    """Parquet files under the probed ``cent_id=`` partition dirs of a
    LOCAL index — the partition-pruned file list inputFiles() cannot
    give (it enumerates the whole table). Empty list for non-local
    paths (scheme-prefixed) or when nothing matches: the caller then
    leaves the scan's own split behavior alone."""
    import glob
    import os
    from urllib.parse import urlparse

    p = urlparse(path)
    if p.scheme not in ("", "file"):
        return []
    root = p.path or path
    files: list[str] = []
    for cid in probed_ids:
        files.extend(
            glob.glob(
                os.path.join(root, f"cent_id={cid}", "**", "*.parquet"),
                recursive=True,
            )
        )
    return files


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine search against a :func:`write_ivf_index` index.

    The centroid geometry loads from the index's tiny sidecar table
    (never a corpus scan), probe assignments for the (small) query
    batch rank against it broadcast, and the probed
    ``cent_id`` values enter the plan as an ``isin`` literal filter so
    the parquet scan partition-prunes to the probed lists. Output/
    semantics identical to :func:`cosine_topk_ivf` (tested equal)."""
    index = spark.read.parquet(path)
    cent = spark.read.parquet(_centroids_path(path))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", _checked_norm("qv"))
    qsim = _dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w_probe = Window.partitionBy("query_id").orderBy(F.col("qsim").desc(), F.col("cent_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qv", "qn", "cent_id", qsim.alias("qsim"))
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", "qn", "cent_id")
    )
    # literal probe list => Catalyst partition-prunes the index scan to
    # the probed directories (query batches are small by contract, so
    # this driver-side collect is bounded: |queries| x nprobe ids)
    probed_ids = sorted({r["cent_id"] for r in probes.select("cent_id").distinct().collect()})
    pruned = index.filter(F.col("cent_id").isin(probed_ids))
    # Widened from the PRUNED listing (r10 recorded the first attempt
    # as a no-op: inputFiles() enumerates the whole table, so the
    # split estimate saw M/nprobe times too many files and bailed;
    # the retry lists the probed cent_id= directories directly). The
    # clustered write gives each probed list ONE file, so an nprobe-4
    # search reads 4 splits on 32 cores. Measured at the 200k index
    # (SCALE.md round-11): NEUTRAL — warm walls ~2.0-2.2s both ways,
    # because the wall there is probe ranking + broadcast join, and
    # 50k in-list rows fold in ~0.4s even on 4 splits. Kept anyway:
    # the exchange is size-gated (2 MB) and the in-list cosine term
    # grows linearly with list size while the probe term is constant,
    # so fatter lists cross over to widen-wins.
    pfiles = _pruned_index_files(path, probed_ids)
    if pfiles:
        from sheetsetl_spark.operators.skew import widen_to_cores

        pruned = widen_to_cores(pruned, files=pfiles)
    sim = _dot("qv", "v") / (F.col("qn") * F.col("vn"))
    scored = (
        pruned.join(F.broadcast(probes), "cent_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "nn_rank", F.round("sim", 6).alias("sim"))
    )


def cosine_topk_pq(
    embeddings: DataFrame,
    query_vec_id: int,
    seed_ids: list[int],
    k: int = 10,
    m: int = 8,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN: ADC shortlist + exact cosine re-rank.

    PQ (Jégou, Douze & Schmid, TPAMI'11 — public method) splits each
    unit-normalized vector into ``m`` subvectors and replaces each with
    the index of its nearest codebook centroid; a query then scores any
    encoded vector as the SUM of per-subspace lookup values (ADC) — here
    dot(query_subvector, centroid), so the ADC total approximates the
    full cosine. Completes the ANN ladder: brute (c3) / LSH (c3b) / IVF
    (c3c) / int8 (c3d) / PQ codes at ~dim*4/m bytes per vector.

    Codebooks are SAMPLED, not trained: centroid j of subspace s is the
    s-th subvector of the corpus row with id ``seed_ids[j]`` — fully
    data-derived, so the DuckDB twin rebuilds the identical codebook
    from the table and the whole encode->score path is hash-checked (no
    driver-side kmeans state to smuggle across engines).

    Engine-portable argmin: nearest centroid minimizes
    ``bb - 2*ab`` (the ``aa`` term is constant per subvector). Both
    engines evaluate the same dot-product folds, round to a 6-dp
    integer, and pack the candidate index into the low two decimal
    digits — MIN of the packed key is an argmin with a deterministic
    lowest-index tiebreak (same family as text.winnow_selected's key).

    Scale shape (r12): codebook and ADC table are m*|codebook| rows
    collected once per invocation from a PUSHED-DOWN seed scan (never
    the corpus); encode + ADC scoring is ONE corpus scan through a
    vectorized mapInArrow pass (numpy matrices in the closure, KBs),
    then TakeOrdered(shortlist). No explode, no join, no exchange in
    the compressed domain — the r11 form shuffled |corpus|*m argmin
    rows and re-exchanged for the score sum. No all-pairs stage, no
    unbounded driver state.

    The production two-stage shape: the compressed-domain ADC scan
    prunes the corpus to a ``shortlist``, then ONLY those rows' raw
    vectors are read back for an exact cosine re-rank — measured here
    (tests/test_ivf_index.py pattern), shortlist-50 recall of the true
    top-10 is 0.7-0.9 where direct 4-bit ADC ranking alone is 0.1-0.4.
    At 100 TB the re-rank is a broadcast semi-join of <= shortlist ids
    against the corpus, so the expensive exact math touches a constant
    number of rows.

    Output: (neighbor_id, pq_rank, sim, pq_score) — top-k by exact
    cosine among the ADC shortlist, the query's own row excluded;
    pq_score is the ADC value that admitted the row.
    """
    base = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # A compact parquet fixture can expose far fewer splits than cores
    # (the 100x file: 8 row groups on 32 cores) — spread the narrow
    # (vid, v) frame so the Arrow scorer pass below runs on every core
    # (widen-only; see skew.widen_to_cores).
    from sheetsetl_spark.operators.skew import widen_to_cores

    base = widen_to_cores(base)

    def _normalize(df: DataFrame) -> DataFrame:
        # Norm once per row (not inside the transform lambda — there it
        # would re-run the d-element fold per element; the r6 guard-cost
        # lesson, similarity._checked_norm docstring).
        return df.withColumn("n", _checked_norm("v")).withColumn(
            "u", F.transform(F.col("v"), lambda x: x / F.col("n"))
        )

    # --- r12: collected-codebook encode (guide §3.5 exploding joins,
    # §2.4 remove the shuffle outright, §4.2 vectorized native code).
    # The r11 encode exploded every corpus vector into m subvector rows
    # and broadcast-joined them against the 512-row codebook —
    # |corpus| * m * |codebook| join rows through a groupBy(vid, s)
    # argmin EXCHANGE, plus an ADC broadcast join and a groupBy(vid)
    # score exchange. But the codebook and ADC tables are TINY
    # (m * |codebook| rows) and fully data-derived, so this collects
    # them once per invocation from a PUSHED-DOWN seed scan
    # (vec_id IN (seeds, query) — <= 65 rows read, never the pinned
    # corpus frame) and scores every corpus row in ONE mapInArrow pass
    # whose numpy matrices ship via the function closure. The whole
    # compressed-domain phase is now scan -> ArrowEvalPython ->
    # TakeOrdered(shortlist): no explode, no join, no exchange — and
    # the plan stays a handful of nodes (two expression forms were
    # measured and rejected first: the fully unrolled per-centroid
    # chain, ~22k plan nodes, OOM'd Janino codegen under the 1 GB
    # default driver heap of the correctness harness; the literal-
    # matrix HOF fold, ~6k nodes, evaluated interpreted at ~1.45 ms/row
    # and read 4.7 s vs 2.65 s for the r11 join form at sf0.1).
    #
    # Bit-compat with the r11 form (and the DuckDB twin) is by
    # construction: the collected u vectors come from the SAME Spark
    # normalize expressions on the same rows; the driver-side bb/dot
    # folds replay the identical left-assoc IEEE-754 chain in Python
    # floats (CPython floats ARE IEEE doubles, `acc = acc + a*b` is the
    # zip_with-then-fold order); Decimal(dot).quantize(1e-6, HALF_UP)
    # equals the r11 round(dot, 6)-then-cast-decimal(18,6) pair (the
    # nearest-double roundtrip recovers the 6-dp decimal — the nearest
    # boundary is 5e-7 away, ~1e9 ulps); the numpy scorer replays the
    # identical double ops in the identical order — elementwise
    # ab = x0*c0 + x1*c1 + ... (each numpy broadcast op is one IEEE op
    # per element), bb - 2*ab, floor(v*1e6 + 0.5), the +1e7*100+j
    # packed-key min with its lowest-j tiebreak, and the decimal(18,6)
    # contrib sum carried in exact int64 micro-units; the final
    # micros/1e6 double division is correctly rounded in both engines
    # (Java BigDecimal.doubleValue takes the same intCompact/10^scale
    # path), so every pq_score bit matches the r11 decimal-sum cast.
    import numpy as np

    seeds = [int(s) for s in seed_ids]
    query_vec_id = int(query_vec_id)
    if m < 1 or not 1 <= len(seeds) <= 100:
        # the packed argmin key holds the centroid index in two digits
        raise ValueError(
            f"cosine_topk_pq: need m >= 1 and 1..100 seeds, got m={m}, {len(seeds)} seeds"
        )
    # The seed/query norm is _checked_norm's sqrt(<v,v>) without its raise:
    # a degenerate row yields n = NULL and is refused below as ValueError,
    # before any corpus pass (no divide by zero under ANSI either).
    sq = _dot("v", "v")
    small_rows = (
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .filter(F.col("vid").isin(seeds + [query_vec_id]))
        .withColumn("n", F.when(sq > 0, F.sqrt(sq)))
        .select("vid", "n", F.transform(F.col("v"), lambda x: x / F.col("n")).alias("u"))
        .collect()
    )
    u_by_id = {r["vid"]: r["u"] for r in small_rows}
    missing = sorted({*seeds, query_vec_id} - u_by_id.keys())
    if missing:
        raise ValueError(f"cosine_topk_pq: ids {missing} are not in the embeddings")
    if any(r["n"] is None for r in small_rows):
        raise ValueError(
            "cosine operators: NULL or zero-norm vector has no "
            "direction; filter such rows out first"
        )
    qu_vec = u_by_id[query_vec_id]
    dim = len(qu_vec)
    if dim % m or any(len(u) != dim for u in u_by_id.values()):
        raise ValueError(
            f"cosine_topk_pq: seed and query vectors must share one length "
            f"divisible by m={m}, got lengths {sorted({len(u) for u in u_by_id.values()})}"
        )

    sub_dim = dim // m
    n_codes = len(seeds)
    # Per-subspace scoring matrices, shipped to the workers via the
    # mapInArrow closure (KBs — never in the plan). CBT[s][d][j] is
    # centroid j's d-th component so the dot accumulates over d with
    # one vectorized op per term; contribs are pre-converted to exact
    # int64 micro-units with the same double->decimal(18,6) HALF_UP
    # rounding the r11 cast performed (Decimal(d) is the exact binary
    # value, as Java's new BigDecimal(double) is).
    from decimal import ROUND_HALF_UP, Decimal

    _micro = Decimal("0.000001")
    cbt = np.empty((m, sub_dim, n_codes), dtype=np.float64)
    bbm = np.empty((m, n_codes), dtype=np.float64)
    contrib_micro = np.empty((m, n_codes), dtype=np.int64)
    for s in range(m):
        qv = qu_vec[s * sub_dim : (s + 1) * sub_dim]
        for j, sid in enumerate(seeds):
            cv = u_by_id[sid][s * sub_dim : (s + 1) * sub_dim]
            bb = 0.0
            for c in cv:
                bb = bb + c * c
            dot = 0.0
            for a, b in zip(qv, cv):
                dot = dot + a * b
            cbt[s, :, j] = cv
            bbm[s, j] = bb
            contrib_micro[s, j] = int(
                Decimal(dot).quantize(_micro, ROUND_HALF_UP).scaleb(6)
            )
    j_arr = np.arange(n_codes, dtype=np.int64)

    def _adc_score(batches):
        import pyarrow as pa

        for batch in batches:
            vid = batch.column("vid")
            vcol = batch.column("v")
            if vcol.null_count:
                raise ValueError(
                    "cosine operators: NULL or zero-norm vector has no "
                    "direction; filter such rows out first"
                )
            # flatten() (not .values) so a sliced batch's list offsets
            # are honored; reshape raises on ragged lengths
            flat = np.asarray(vcol.flatten())
            v = flat.reshape(len(vcol), m * sub_dim)
            # normalize HERE, not in a JVM interpreted-HOF pass
            # (~300us/row there, vectorized here): the same fold order
            # as _checked_norm — squares accumulated left-assoc, the
            # s > 0 loud guard, one correctly-rounded sqrt (IEEE, both
            # engines), one elementwise division per component.
            sq = v[:, 0] * v[:, 0]
            for d in range(1, m * sub_dim):
                sq = sq + v[:, d] * v[:, d]
            if not (sq > 0).all():
                raise ValueError(
                    "cosine operators: NULL or zero-norm vector has no "
                    "direction; filter such rows out first"
                )
            u = v / np.sqrt(sq)[:, None]
            micros = np.zeros(len(vcol), dtype=np.int64)
            for s in range(m):
                x = u[:, s * sub_dim : (s + 1) * sub_dim]
                # left-assoc chain x0*c0 + x1*c1 + ... — each broadcast
                # op is one IEEE double op per element, the same bits
                # as the Spark/DuckDB fold (0.0 + t == t for any t that
                # survives the later floor).
                ab = x[:, 0:1] * cbt[s, 0:1, :]
                for d in range(1, sub_dim):
                    ab = ab + x[:, d : d + 1] * cbt[s, d : d + 1, :]
                # +1e7 offset keeps the packed key positive (bb - 2ab
                # can be negative): DuckDB's % keeps the dividend's
                # sign, so the code extraction is only engine-portable
                # on non-negative keys; min of key + low-digits j is
                # the argmin with the deterministic lowest-j tiebreak.
                key = (
                    np.floor((bbm[s] - 2.0 * ab) * 1000000.0 + 0.5).astype(np.int64)
                    + 10_000_000
                ) * 100 + j_arr
                codes = key.min(axis=1) % 100
                micros = micros + contrib_micro[s][codes]
            # exact int64 micro-units -> double, correctly rounded:
            # identical to the r11 sum(decimal(18,6)).cast(double).
            score = micros / 1000000.0
            yield pa.RecordBatch.from_arrays(
                [vid, pa.array(score, type=pa.float64())], ["vid", "pq_score"]
            )

    scored = (
        base.filter(F.col("vid") != query_vec_id)
        .select("vid", "v")
        .mapInArrow(_adc_score, "vid long, pq_score double")
    )
    # The shortlist is one TakeOrdered job over the scored stream —
    # collect it (<= ``shortlist`` (vid, pq_score) rows, bounded driver
    # state) so the exact re-rank becomes a PUSHED-DOWN <= shortlist-row
    # scan (PushedFilters: vid IN (...)) instead of a second full corpus
    # pass probing a broadcast: r11 pinned the whole normalized corpus
    # with a localCheckpoint and ran two more broadcast-subquery jobs
    # (query row, shortlist) against the pin; with the scorer the only
    # full-corpus consumer, the pin and both jobs were pure overhead.
    short_rows = (
        scored.orderBy(F.col("pq_score").desc(), F.col("vid"))
        .limit(shortlist)
        .collect()
    )
    score_map = F.create_map(
        *[
            lit
            for r in short_rows
            for lit in (F.lit(int(r["vid"])), F.lit(float(r["pq_score"])))
        ]
    )
    # Exact re-rank: normalize ONLY the surviving rows, against the
    # query unit vector as a literal. Same u expressions on the same
    # rows, the collected pq_score doubles round-trip exactly through
    # literals (as does lit_double_array's shortest-repr rendering of
    # qu_vec), so sim and pq_score are bit-identical to the r11 form.
    sim = F.aggregate(
        F.zip_with("u", lit_double_array(qu_vec), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    survivors = embeddings.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).filter(F.col("vid").isin([int(r["vid"]) for r in short_rows]))
    reranked = (
        _normalize(survivors)
        .select(
            "vid",
            F.element_at(score_map, F.col("vid")).alias("pq_score"),
            sim.alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vid"))
        .limit(k)
    )
    return reranked.select(
        F.col("vid").alias("neighbor_id"),
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), F.col("vid")))
        .alias("pq_rank"),
        F.round("sim", 6).alias("sim"),
        "pq_score",
    )


def _sqdist(vec_col: str, center: list[float]) -> Column:
    """Squared L2 distance from a vector column to a LITERAL center,
    as the same defined left-fold both engines use for dot products —
    sequential order makes the double chain bit-identical to a DuckDB
    LIST_REDUCE twin over the identical literal."""
    c = lit_double_array(center)
    return F.aggregate(
        F.zip_with(F.col(vec_col), c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kcenter_coreset(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    Gonzalez 1985 — the 2-approximation to the k-center cover): pick
    the max-norm vector, then k-1 times the point FARTHEST from the
    selected set. The data-selection primitive for training pipelines
    — a diversity-maximizing seed set / dedup anchor set whose cover
    radius certifies how well k points summarize the corpus.

    Scale shape: round r is ONE corpus scan computing min(dist² to the
    r selected centers) per row — centers are driver-side literals
    (bounded state: k rows of dim doubles, the BPE-argmax precedent) —
    followed by a 1-row TakeOrdered argmax. Total O(n*k*dim) with NO
    shuffle in the distance pass; the only movement is k one-row
    argmax collects. Determinism: every distance is the defined
    left-fold over doubles (bit-identical in DuckDB's LIST_REDUCE),
    and both argmaxes tie-break on the id.

    Output: (sel_rank, vec_id, d2_at_selection) — d2 is the squared
    distance to the previously-selected set at the moment of selection
    (0.0 for the seed row), 6dp-rounded. d2 of the LAST row upper-
    bounds the cover radius² of the k-1 preceding centers.

    Lineage discipline (the BPE-loop rule, text.py): ``base`` is
    lazy-checkpointed once — the parquet scan + array cast materialize
    on the seed argmax and every later round reuses them — and ``cur``
    is re-checkpointed each round, so round r's plan is always
    checkpoint + ONE least() + TakeOrdered, never an r-deep least()
    chain re-derived from the raw scan (that chain made per-round wall
    grow linearly: O(k²·n) scalar work and k full re-scans at k≫8).

    Degenerate inputs: an empty frame returns an empty result. With
    fewer than k DISTINCT vectors the cover radius hits 0 and every
    later round re-emits the smallest-vid point at d2 = 0.0 — kept
    deliberately (not an early stop) because the DuckDB oracle's
    unrolled per-round CTE chain reproduces exactly this argmax
    tie-break, and the random-fixture hypothesis sweep pins the parity
    on duplicate/zero-vector corpora; callers wanting a trimmed set
    drop rows with sel_rank > 1 and d2_at_selection = 0.
    """
    from sheetsetl_spark.operators.skew import widen_to_cores
    from sheetsetl_spark.operators.text import round6_bin

    # widen before the checkpoint: the pinned partitions inherit the
    # input's split count, and every one of the k distance rounds scans
    # them (compact-fixture row groups would cap all k rounds at 2-8-way)
    base = widen_to_cores(
        embeddings.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).localCheckpoint(eager=False)
    norm2 = F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    seed_rows = (
        base.select("vid", "v", norm2.alias("crit"))
        .orderBy(F.col("crit").desc(), F.col("vid"))
        .limit(1)
        .collect()
    )
    spark = embeddings.sparkSession
    out_schema = "sel_rank long, vid long, d2 double"
    if not seed_rows:
        out = spark.createDataFrame([], out_schema)
    else:
        seed = seed_rows[0]
        picks = [(1, seed.vid, 0.0)]
        centers = [list(seed.v)]
        cur = base.withColumn(
            "mind2", _sqdist("v", centers[0])
        ).localCheckpoint(eager=False)
        for r in range(2, k + 1):
            top = (
                cur.orderBy(F.col("mind2").desc(), F.col("vid")).limit(1).collect()[0]
            )
            picks.append((r, top.vid, top.mind2))
            centers.append(list(top.v))
            cur = cur.withColumn(
                "mind2", F.least(F.col("mind2"), _sqdist("v", centers[-1]))
            ).localCheckpoint(eager=False)
        out = spark.createDataFrame(picks, out_schema)
    return out.select(
        F.col("sel_rank").cast("int").alias("sel_rank"),
        F.col("vid").cast("long").alias("vec_id"),
        round6_bin(F.col("d2")).alias("d2_at_selection"),
    )
