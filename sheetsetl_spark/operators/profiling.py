"""Table profiling — the data-quality summary an ETL tool surfaces before
shipping results to "spreadsheet type people" (/root/reference/README.md:4).

One aggregation pass computes every column's stats (null count, distinct
count, min/max), then an in-memory unpivot reshapes to one row per column.
At 100 TB this is a single scan with map-side partials; the wide agg row
is a few KB regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Numeric-column profile: (column, n_rows, n_nulls, n_distinct,
    min_val, max_val) — one scan, stack-unpivoted."""
    cols = columns or [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in ("int", "bigint", "double", "float", "decimal")
    ]
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', __nulls_{c}, __dist_{c}, __min_{c}, __max_{c}" for c in cols
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_expr}) AS (column, n_nulls, n_distinct, min_val, max_val)",
    ).select("column", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


def distribution_divergence(
    df: DataFrame,
    group_col: str,
    class_col: str,
) -> DataFrame:
    """Per-group distribution drift vs the corpus: KL(p_g || p_corpus)
    and Jensen-Shannon divergence of each group's class distribution
    against the global one — the statistic a data-mixing pipeline
    watches to catch a source whose language / domain / label mix has
    shifted from the corpus it was weighted for (and the quantity DSIR-
    style importance weighting consumes, see operators/text.py).

    KL needs q > 0 wherever p > 0: the corpus distribution contains
    every class any group has, so that holds by construction — no
    smoothing constant to pick. JS uses m = (p + q) / 2 and is symmetric
    and bounded by ln 2.

    Output: (group, n_rows, kl, js), divergences in nats rounded to
    6 dp. Per-class terms round to 6 dp FIRST and accumulate in exact
    decimal (registry determinism contract) so partial-aggregation
    order can't flip the hash.

    Plan: one (group, class) count -> window totals (group partition +
    an unpartitioned global window over the per-class frame, which is
    |classes| rows — bounded vocabulary, not data-sized) -> one
    per-group sum. Map-side combinable throughout; no driver collect.
    """
    cell = (
        df.select(F.col(group_col).alias("group"), F.col(class_col).alias("cls"))
        .groupBy("group", "cls")
        .agg(F.count("*").alias("n"))
    )
    per_class = cell.groupBy("cls").agg(F.sum("n").alias("n_cls"))
    grand = Window.partitionBy()
    per_class = per_class.select(
        "cls",
        "n_cls",
        F.sum("n_cls").over(grand).alias("n_total"),
        (F.col("n_cls") / F.sum("n_cls").over(grand)).alias("q"),
    )
    by_group = Window.partitionBy("group")
    scored = (
        cell.select(
            "group",
            "cls",
            "n",
            (F.col("n") / F.sum("n").over(by_group)).alias("p"),
            F.sum("n").over(by_group).alias("n_rows"),
        )
        .join(per_class, "cls")
        .select(
            "group",
            "n_rows",
            "n",
            F.round(F.col("p") * F.log(F.col("p") / F.col("q")), 6).alias("kl_term"),
            F.round(
                0.5 * F.col("p") * F.log(F.col("p") / ((F.col("p") + F.col("q")) / 2))
                + 0.5 * F.col("q") * F.log(F.col("q") / ((F.col("p") + F.col("q")) / 2)),
                6,
            ).alias("js_term_present"),
        )
    )
    # JS also sums q-side mass for classes ABSENT from the group
    # (p = 0 -> term = 0.5 * q * ln(q / (q/2)) = 0.5 * q * ln 2); fold
    # that in as a per-group correction. Computed from exact INTEGER
    # counts — absent mass = (n_total - sum of present classes' n_cls)
    # / n_total — so no float accumulation can drift between engines.
    present_q = (
        cell.join(per_class, "cls")
        .groupBy("group")
        .agg(
            (
                (F.max("n_total") - F.sum("n_cls")) / F.max("n_total")
            ).alias("absent_q")
        )
    )
    per_group = scored.groupBy("group").agg(
        F.max("n_rows").alias("n_rows"),
        F.sum(F.col("kl_term").cast("decimal(18,6)")).cast("double").alias("kl_raw"),
        F.sum(F.col("js_term_present").cast("decimal(18,6)"))
        .cast("double")
        .alias("js_present"),
    )
    return (
        per_group.join(present_q, "group")
        .select(
            "group",
            "n_rows",
            F.round("kl_raw", 6).alias("kl"),
            F.round(
                F.col("js_present")
                + F.round(0.5 * F.col("absent_q") * F.log(F.lit(2.0)), 6),
                6,
            ).alias("js"),
        )
        .orderBy("group")
    )


def group_overlap_matrix(
    docs: DataFrame,
    n: int = 3,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise EXACT shingle-Jaccard between document groups (sources,
    domains, snapshots): the corpus-level overlap report that tells a
    training-data curator which sources are re-crawls / mirrors of each
    other BEFORE any doc-level dedup runs.

    Shape: the unit of work is the distinct (group, shingle) stream —
    bounded by vocabulary x |groups|, NOT by corpus size, so the
    shingle self-join's fanout per shingle is at most C(|groups|, 2)
    with |groups| small by nature (sources number in the thousands at
    most). Intersections and group sizes reduce with map-side partials;
    Jaccard is one integer-ratio projection at the end. Contrast the
    doc-level near-dup family (n²-candidate-prone, needs caps/LSH):
    grouping first collapses the quadratic term to the group count.

    Output: (group_a, group_b, inter, union_sz, jaccard) for pairs with
    at least one shared shingle, group_a < group_b, jaccard rounded 6.
    """
    from sheetsetl_spark.operators.dedup import shingles

    sh = shingles(docs, n=n, id_col=group_col, text_col=text_col).distinct()
    sizes = sh.groupBy(group_col).agg(F.count("*").alias("__sz"))
    a = sh.select(F.col(group_col).alias("group_a"), "shingle")
    b = sh.select(F.col(group_col).alias("group_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(group_col).alias("group_a"), F.col("__sz").alias("__na"))
    sb = sizes.select(F.col(group_col).alias("group_b"), F.col("__sz").alias("__nb"))
    return (
        inter.join(F.broadcast(sa), "group_a")
        .join(F.broadcast(sb), "group_b")
        .select(
            "group_a",
            "group_b",
            F.col("inter").cast("long").alias("inter"),
            (F.col("__na") + F.col("__nb") - F.col("inter"))
            .cast("long")
            .alias("union_sz"),
            F.round(
                F.col("inter") / (F.col("__na") + F.col("__nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile normalization across groups (the batch-effect correction
    standard in bioinformatics, and the cross-SOURCE score calibration a
    training-data curator needs: a quality score of 0.7 from source A
    and source B mean different things — mapping each source's
    distribution onto the GLOBAL distribution makes one threshold mean
    one thing everywhere).

    Each row's within-group rank r (of n_g) maps to the global value at
    rank ceil(r * N / n_g) — percentile_disc-style, exact integers all
    the way, ties broken by ``id_col`` on both levels. The ceil is
    computed as an integer ((r*N + n_g - 1) DIV n_g) over a
    DECIMAL(38,0) product: the float form ceil(r*N/n_g) loses exactness
    once r*N exceeds 2^53 (and a bigint product would overflow past
    2^63), either of which can land the target one rank off at large-
    corpus scale (r7 advice).

    Distributed shape: within-group ranks are keyed windows (shuffle on
    the group key); the GLOBAL rank comes from the prefix-sum
    decomposition (operators/prefix.py — never a single-partition corpus
    window); the normalized value attaches by an integer equi-join of
    the corpus against the global-rank frame (same size as the corpus,
    shuffled on an int). N broadcasts as a one-row aggregate.

    Output: (id, group, value, norm_value).
    """
    from sheetsetl_spark.operators.prefix import prefix_sum

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("__g"),
        F.col(value_col).alias("__v"),
    )
    wg = Window.partitionBy("__g")
    ranked = base.withColumn(
        "__r", F.row_number().over(wg.orderBy("__v", "__id"))
    ).withColumn("__ng", F.count("*").over(wg))
    glob = prefix_sum(
        base.select(F.col("__v").alias("__gv"), F.col("__id").alias("__gid")),
        [F.col("__gv"), F.col("__gid")],
        F.lit(1).cast("long"),
        out_col="__gr",
    ).select("__gv", "__gr")
    n_total = base.groupBy().agg(F.count("*").alias("__n"))
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn(
            "__target",
            F.expr(
                "CAST((CAST(__r AS DECIMAL(38,0)) * __n + __ng - 1) "
                "DIV __ng AS BIGINT)"
            ),
        )
        .join(glob, F.col("__target") == F.col("__gr"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__g").alias(group_col),
            F.col("__v").alias(value_col),
            F.col("__gv").alias("norm_value"),
        )
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch per group (Bar-Yossef et
    al. 2002; the estimator inside Theta sketches) — with the md5-prefix
    hash, so unlike HLL implementations whose hash/bias constants differ
    per engine, the ESTIMATE ITSELF is engine-portable and hash-checks
    against a DuckDB twin. The sketch-quality pattern of the count-min
    family (c27): estimate and exact side-by-side, error measured, both
    deterministic.

    est = (k-1) * 2^60 / h_(k)  where h_(k) is the k-th smallest 60-bit
    hash of the group's distinct values; groups with fewer than k
    distinct values fall back to the exact count (the standard KMV
    rule — the sketch IS the value set until it fills).

    Shape: one distinct aggregate on (group, hash) with map-side
    partials, then a keyed top-k window over per-group DISTINCT-HASH
    frames (vocabulary-sized, not corpus-sized). At 100 TB the k
    smallest hashes per group would be a groupBy(min_k) aggregate; the
    window form keeps the exact twin trivially identical.

    Output: (group, n_exact, n_est, rel_err) — est rounded 2, err 6.
    Raises ValueError for k < 2 (see :func:`_kmv_estimates`).
    """
    per = _kmv_estimates(_kmv_hashes(df, group_col, value_col), k)
    est = F.col("__est")
    return per.select(
        F.col("__g").alias(group_col),
        F.col("__n").cast("long").alias("n_exact"),
        F.round(est, 2).alias("n_est"),
        F.round(F.abs(est - F.col("__n")) / F.col("__n"), 6).alias("rel_err"),
    )


def _kmv_hashes(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Distinct (__g, __h) pairs: the group and the 60-bit md5-prefix
    hash of the value — the KMV hash shared by :func:`kmv_distinct` and
    the streaming KMV ingest, so their sketches agree exactly."""
    return df.select(
        F.col(group_col).alias("__g"),
        F.conv(F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("__h"),
    ).distinct()


def _kmv_estimates(hashes: DataFrame, k: int) -> DataFrame:
    """(__g, __n, __est) per group of distinct (__g, __h) pairs: __n
    counts the group's hashes, __est is the KMV estimate — the exact
    count below k hashes, else (k-1) * 2^60 / h_(k).

    k < 2 is a ValueError: with k = 1 the numerator (k-1) is 0 and every
    group past one distinct value would read an estimate of 0."""
    if k < 2:
        raise ValueError(f"KMV needs k >= 2, got k={k}")
    w = Window.partitionBy("__g").orderBy("__h")
    per = hashes.withColumn("__rn", F.row_number().over(w)).groupBy("__g").agg(
        F.count("*").alias("__n"),
        F.max(F.when(F.col("__rn") == k, F.col("__h"))).alias("__kth"),
    )
    est = F.when(F.col("__kth").isNull(), F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.pow(F.lit(2.0), F.lit(60.0)) / F.col("__kth")
    )
    return per.select("__g", "__n", est.alias("__est"))
