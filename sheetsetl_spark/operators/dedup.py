"""Deduplication operators (SURVEY §2-C C1/C2): exact, n-gram Jaccard,
prefix-filter and edit-distance joins, SimHash, and banded near-dup over
text, vectors and media.

Scale design: every variant reduces the pairwise-comparison space BEFORE
any join — exact dedup shuffles on a 16-byte hash; Jaccard/LSH only join
documents that share a shingle/band bucket (equi-joins Catalyst can
shuffle-partition), never a cross join. At 100 TB the band join is the
only O(candidate) stage and AQE's skew-join splits hot buckets.

Banded near-dup is filter-and-verify: candidates come only from
:func:`_band_join`, the (band_idx, band key) equi-join of two band
stacks, and only its distinct colliding pairs are verified. Each family
keeps just its validator, its band stack and its verify step; MinHash
and hyperplane share one validator, :func:`_rows_per_band`:

* MinHash (text Jaccard): :func:`_band_stack` keyed ``band_hash``;
  exact Jaccard over shingle arrays (:func:`_array_jaccard_pairs`) or
  the signature-agreement estimate
  (:func:`incremental_neardup_filter_sig`).
* Hyperplane (embedding cosine): :func:`_hyperplane_stack` keyed
  ``band_val``; exact cosine (:func:`_cosine_pairs`).
* Hamming (media fingerprints, ``operators/multimodal.py``):
  ``_hamming_banding``, ``_hamming_stack`` keyed ``band_val``;
  ``bit_count(xor) <= max_hamming``.

Every family has a pair finder over one corpus and an incremental filter
of a new batch against history or its stored index.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, Window

from sheetsetl_spark.cache import scoped_persist
from sheetsetl_spark.operators.text import round6_bin
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """C1: keyed dedup with deterministic winner (row_number over an
    explicit order — never dropDuplicates' arbitrary pick)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    spread_key: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document.

    Built with higher-order functions (transform/slice over the token
    array) — one pass, no UDF, explode only the shingle stream.

    ``max_df``: drop shingles whose document frequency exceeds the cap
    (standard near-dup practice — boilerplate shingles like license
    headers appear in millions of docs and contribute f² candidate pairs
    to any shingle self-join; capping is the difference between a
    bounded candidate set and 10¹² rows from one hot key at 100 TB).
    Implemented as a broadcast anti-join against the (by construction
    tiny) hot-shingle list: the count aggregate benefits from map-side
    partial aggregation, and the instance stream itself never shuffles —
    a window over the shingle key would push the whole stream through an
    exchange + sort that downstream consumers (the per-doc MinHash
    groupBy) cannot reuse.

    Tokenization happens ONCE into a projected array column before the
    transform — referencing ``split(text)`` inside the slice lambda makes
    codegen re-split the document per shingle position (O(tokens²) string
    work per doc; measured 3.7× slower at sf0.1).

    The scan feeding the explode is widened first (r11): shingling is
    the densest per-row work in every consumer (split + ~tokens slices
    + array_join per doc, then per-shingle hashing/aggregation
    map-side), and a compactly-written document file exposes 1-2 splits
    — measured at sf0.1, the WHOLE shingle+hash+partial-agg pipeline of
    the MinHash signature build ran on one core. ``fanout=64``
    approximates the explode's per-row work multiplier (it only gates
    the widen, sizes nothing); a genuinely large corpus whose scan is
    already wide passes through untouched.

    ``spread_key=True`` (r12, guide §2.4 share one exchange / §2.3
    shuffle fewer bytes): hash-repartition the DOCUMENT rows by
    ``id_col`` instead of the round-robin widen. For consumers that
    re-group the shingle stream per document (the MinHash signature
    groupBy, the PPJoin per-doc array fold), hash(id) established
    before the explode satisfies every downstream groupBy keyed by the
    doc id, so the post-explode shingle stream (~n× the text bytes)
    never crosses an exchange at all — the compact document rows cross
    once instead. Callers whose consumers join/aggregate by SHINGLE
    (decontamination, per-language profiles) gain nothing from doc-id
    partitioning and keep the widen default."""
    from sheetsetl_spark.operators.skew import spread_by_key, widen_to_cores

    docs = (
        spread_by_key(docs, [id_col]) if spread_key
        else widen_to_cores(docs, fanout=64)
    )
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
    shingle_list = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {n} + 1), "
        f"  i -> array_join(slice(__w, i, {n}), ' ')) "
        f"ELSE array() END"
    )
    sh = toks.select(
        F.col(id_col), F.explode(F.array_distinct(shingle_list)).alias("shingle")
    )
    if max_df is not None:
        sh = _drop_hot_keys(sh, ["shingle"], max_df)
    return sh


def _drop_hot_keys(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Remove rows whose key group has more than ``cap`` members.

    The over-cap key list is tiny by construction (only boilerplate /
    degenerate keys exceed an honest cap), so it broadcasts; the main
    stream is filtered by a broadcast anti-join and never shuffles. The
    count aggregate shrinks map-side to distinct keys per partition."""
    hot = (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(hot), keys, "left_anti")


def _shingle_overlaps(
    docs: DataFrame,
    n: int,
    id_col: str,
    text_col: str,
    max_shingle_df: int | None,
) -> DataFrame:
    """(doc_a, doc_b, inter, n_a, n_b) for every doc pair sharing a shingle,
    doc_a < doc_b: the shingle equi-self-join over the df-capped universe
    that :func:`ngram_jaccard_pairs` and :func:`containment_pairs` score.
    ``inter`` is the shared-shingle count, ``n_a``/``n_b`` the sizes."""
    raw = scoped_persist(shingles(docs, n=n, id_col=id_col, text_col=text_col))
    sh = _drop_hot_keys(raw, ["shingle"], max_shingle_df) if max_shingle_df else raw
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    # sz_a/sz_b are per-DOCUMENT size tables — O(corpus) rows, so no
    # broadcast hint: AQE broadcasts at small scale and shuffles on the
    # id key when the corpus outgrows a build side.
    return inter.join(sz_a, "doc_a").join(sz_b, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """C2: near-duplicate pairs by word-n-gram Jaccard similarity.

    Candidate generation is the shingle equi-self-join (only docs sharing
    a shingle ever meet); |union| = |A| + |B| - |A∩B| avoids materializing
    unions. Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    ``max_shingle_df`` drops boilerplate shingles (document frequency
    above the cap) BEFORE the self-join — a shingle in f docs yields f²
    candidate rows, so one hot shingle at corpus scale would dominate the
    whole job. Jaccard is then computed over the capped shingle universe
    (sizes and intersections both post-cap — self-consistent semantics
    that the DuckDB oracle twin mirrors exactly). The RAW stream is
    persisted and the cap is applied on top of the cache: the corpus is
    scanned once (cache fill), the hot list is computed from the cache,
    and each consumer's anti-join is a broadcast filter over cache
    reads — strictly one corpus scan for the whole pipeline.

    The returned pairs stay lazy, so the cache entry outlives the call:
    Spark's cache manager keys on the canonicalized plan, so repeated
    calls over the same input reuse one entry, but a caller running this
    over ever-new inputs — a foreachBatch sink calling it once per
    micro-batch — wraps call and consumption in
    ``sheetsetl_spark.cache.cache_scope()``, which unpersists the entry
    when the block ends."""
    return (
        _shingle_overlaps(docs, n, id_col, text_col, max_shingle_df)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """C2: DIRECTIONAL near-dup pairs by n-gram containment
    |A ∩ B| / |A| — the excerpt/quotation detector Jaccard misses: a short
    doc fully contained in a long one has high containment but low
    Jaccard (the size asymmetry kills the union ratio). Output:
    (doc_src, doc_dst, containment) where doc_src's shingles are
    >= threshold contained in doc_dst — both directions of each
    candidate pair are scored.

    Same candidate discipline as :func:`ngram_jaccard_pairs` (shingle
    equi-self-join over the df-capped universe — the intersection is
    computed ONCE per unordered pair, then both directional ratios derive
    from it), same single-scan persist and ``cache_scope`` contract."""
    scored = _shingle_overlaps(docs, n, id_col, text_col, max_shingle_df)
    # Emit both directions by exploding a 2-struct array, NOT a union of
    # two selects: a union would duplicate the whole candidate pipeline
    # (verified: 0 ReusedExchange), doubling the intersection cost.
    # round6_bin, not plain round: inter/n is rational and CAN land on a
    # true 7th-digit half boundary (e.g. n = 640 => k/640 has 7 decimals
    # ending in 5) where Spark's shortest-repr ROUND and the oracle's
    # binary ROUND diverge — and the threshold filter then diverges too.
    fwd = F.struct(
        F.col("doc_a").alias("doc_src"),
        F.col("doc_b").alias("doc_dst"),
        round6_bin(F.col("inter") / F.col("n_a")).alias("containment"),
    )
    rev = F.struct(
        F.col("doc_b").alias("doc_src"),
        F.col("doc_a").alias("doc_dst"),
        round6_bin(F.col("inter") / F.col("n_b")).alias("containment"),
    )
    return (
        scored.select(F.explode(F.array(fwd, rev)).alias("e"))
        .select("e.*")
        .filter(F.col("containment") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
    hash_family: str = "xxhash64",
    shingle_df: DataFrame | None = None,
    with_size_col: bool = False,
    with_arr_col: bool = False,
) -> DataFrame:
    """MinHash signature per document, min-aggregated over the shingle
    stream — one groupBy, map-side partial mins.

    Each shingle string is hashed ONCE (xxhash64); the num_hashes
    families re-hash that fixed-width value with the family index as
    seed column — one variable-length string hash + k 12-byte hashes per
    shingle instead of k string hashes, and no arithmetic that could
    overflow under ANSI mode. ~num_hashes× less string hashing on a
    100 TB corpus.

    ``shingle_df``: pre-built (typically persisted) shingle stream to use
    instead of deriving one from ``docs`` — lets a pipeline that also
    needs the stream for verification (minhash_lsh_pairs) pay the
    shingling + df-cap cost exactly once.

    ``with_size_col``: additionally emit ``n_sh`` (the per-document
    distinct-shingle count) from the SAME groupBy — the Jaccard
    denominator piggybacks on the signature aggregation instead of
    costing its own shuffle over the stream.

    ``with_arr_col``: additionally emit ``sh_arr`` (the sorted
    distinct-shingle array) from the same groupBy — lets a
    candidate-verify stage intersect per-doc arrays (array_intersect on
    |cand| rows) without re-aggregating the stream or exploding
    |cand| x doc_len rows."""
    base = shingle_df
    if base is None:
        base = shingles(docs, n=n, id_col=id_col, text_col=text_col, max_df=max_shingle_df)
    if hash_family == "xxhash64":
        sh = base.withColumn("__h", F.xxhash64(F.col("shingle")))
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    elif hash_family == "md5":
        # Engine-portable twin: 60-bit md5 prefixes (same trick as
        # simhash64(token_hash='md5')) so a DuckDB oracle can replicate
        # the signatures bit-for-bit. ~2-3x the hashing cost of the
        # xxhash64 default — the audit path, not the production path.
        def p60(col: Column) -> Column:
            return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")

        sh = base.withColumn("__h", p60(F.col("shingle")))
        mins = [
            F.min(
                p60(F.concat_ws(":", F.lit(str(i)), F.col("__h").cast("string")))
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    else:  # pragma: no cover - guarded upstream
        raise ValueError(f"unknown hash_family: {hash_family}")
    if with_size_col:
        mins = [*mins, F.count("*").alias("n_sh")]
    if with_arr_col:
        mins = [*mins, F.sort_array(F.collect_list("shingle")).alias("sh_arr")]
    return sh.groupBy(id_col).agg(*mins)


def _rows_per_band(num_hashes: int, bands: int, label: str = "num_hashes") -> int:
    """The banding contract of the MinHash and hyperplane families: the
    ``num_hashes`` signature components (hyperplane bits, named
    ``label`` in the error) split into ``bands`` >= 1 bands of
    r = num_hashes / bands rows, so ``bands`` must divide
    ``num_hashes`` >= 1; anything else is a ValueError. Returns r."""
    if bands < 1 or num_hashes < 1 or num_hashes % bands:
        raise ValueError(
            f"bands must be >= 1 and divide {label} >= 1, "
            f"got {label}={num_hashes}, bands={bands}"
        )
    return num_hashes // bands


def _band_stack(
    sig: DataFrame, id_col: str, bands: int, rows_per_band: int, hash_family: str, *carry
) -> DataFrame:
    """(``id_col``, *carry, band_idx, band_hash): the ``mh_*`` signature
    frame in band-exploded long form, one row per document and band.
    ``carry`` columns (names or aliased Columns over ``sig``) ride along.
    The bucket key of band b hashes its r ``mh_*`` components; in the
    portable md5 mode the raw ':'-joined band value IS the key (band
    hashing is only a width optimization), so a DuckDB twin can rebuild
    the buckets verbatim."""

    def key(b: int) -> Column:
        mh = [F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)]
        return F.concat_ws(":", *mh) if hash_family == "md5" else F.xxhash64(*mh)

    banded = sig.select(F.col(id_col), *carry, *[key(b).alias(f"band_{b}") for b in range(bands)])
    return banded.select(
        *banded.columns[:-bands],
        F.posexplode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band_idx", "band_hash"
        ),
    )


def _minhash_band_side(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    id_col: str,
    text_col: str,
    max_shingle_df: int | None,
    hash_family: str,
) -> tuple[DataFrame, DataFrame]:
    """One side of a MinHash band join: ``(sig, stacked)`` for ``docs``.

    sig = (``id_col``, mh_0..mh_{k-1}, n_sh, sh_arr), one row per
    document with at least one capped shingle; sh_arr is its sorted
    distinct capped shingles and n_sh their count. stacked = (``id_col``,
    n_sh, band_idx, band_hash), the :func:`_band_stack` of sig. The
    banding contract is :func:`_rows_per_band`'s.

    ``max_shingle_df`` drops boilerplate shingles (document frequency
    above the cap, counted over ``docs``) before the signatures AND the
    shingle arrays are built, so a verify over ``sh_arr`` scores the same
    capped universe as :func:`ngram_jaccard_pairs`.

    Persistence: the raw shingle stream feeds the hot-shingle aggregate
    and the signature groupBy, so it is persisted and the df cap is a
    broadcast anti-join over cache reads — one shingling of ``docs``.
    The signature frame feeds the band stack, a bucket cap's hot list
    and the callers' verify, so it is persisted too. Spark's cache
    manager keys on the canonicalized plan, so repeated calls over the
    same input reuse the entries. The returned frames stay lazy, so the
    entries cannot be unpersisted here: wrap call and consumption in
    ``sheetsetl_spark.cache.cache_scope()`` to bound their lifetime."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    # No spread_key: the signature groupBy consumes the stream through
    # the persist below, and a lazily-persisted plan is an unfinalized
    # AdaptiveSparkPlan whose output partitioning reads as Unknown at
    # consumer-planning time — the groupBy re-shuffles regardless, so a
    # keyed spread would only ADD a document exchange (measured
    # neutral-to-noise at sf0.1).
    raw = scoped_persist(shingles(docs, n=n, id_col=id_col, text_col=text_col))
    sh = _drop_hot_keys(raw, ["shingle"], max_shingle_df) if max_shingle_df else raw
    sig = scoped_persist(
        minhash_signatures(
            docs,
            num_hashes=num_hashes,
            n=n,
            id_col=id_col,
            text_col=text_col,
            max_shingle_df=max_shingle_df,
            hash_family=hash_family,
            shingle_df=sh,
            with_size_col=True,
            with_arr_col=True,
        )
    )
    return sig, _band_stack(sig, id_col, bands, rows_per_band, hash_family, "n_sh")


def _minhash_band_candidates(
    docs: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    id_col: str,
    text_col: str,
    max_shingle_df: int | None,
    max_bucket_size: int | None,
    hash_family: str,
) -> tuple[DataFrame, DataFrame]:
    """MinHash + LSH banding candidate pairs within ``docs``, shared by
    :func:`minhash_lsh_pairs` and :func:`minhash_estimate_audit`.

    BANDING: two documents are a candidate when they agree on every row
    of at least one band — a pair at Jaccard j collides with probability
    1 - (1 - j^r)^bands for r = num_hashes / bands. Candidates come from
    the (band_idx, band key) equi-self-join of the
    :func:`_minhash_band_side` stack, so the signature table is O(docs)
    and the band join touches only colliding documents; there is no
    all-pairs stage. Wherever banding recall is 1 a verify over
    ``sh_arr`` equals :func:`ngram_jaccard_pairs`.

    ``max_bucket_size`` (None = no cap) drops band buckets with more
    members: a bucket of m near-identical templated documents
    contributes m² candidates, and at corpus scale a boilerplate-heavy
    source can put millions of documents in one bucket. It is a recall
    guard that binds only on pathological buckets far above any honest
    near-dup cluster size.

    Returns ``(sig, candidates)``: sig as in :func:`_minhash_band_side`
    (same persistence and ``cache_scope`` contract); candidates =
    distinct (doc_a, doc_b, n_a, n_b) with doc_a < doc_b — the Jaccard
    denominators come from the signature groupBy and ride along the band
    join, so no size join follows."""
    sig, stacked = _minhash_band_side(
        docs, num_hashes, bands, n, id_col, text_col, max_shingle_df, hash_family
    )
    if max_bucket_size is not None:
        stacked = _drop_hot_keys(stacked, ["band_idx", "band_hash"], max_bucket_size)
    return sig, _band_join(stacked, stacked, id_col, F.col("doc_a") < F.col("doc_b"))


def _band_join(
    stack_a: DataFrame,
    stack_b: DataFrame,
    id_col: str,
    pair_filter: Column | None = None,
    key: str = "band_hash",
    carry: tuple[tuple[str, str], ...] = (("n_sh", "n"),),
    out: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """The candidate join of every banded near-dup path (module
    docstring): distinct (out_a, out_b, *carried) over the
    (band_idx, ``key``) equi-join of two band stacks, ``id_col`` of
    ``stack_a`` as out_a and of ``stack_b`` as out_b, kept where
    ``pair_filter`` (over the output names) holds. Each ``(col, name)``
    of ``carry`` rides from both sides as ``name_a``, ``name_b``; the
    default is the MinHash stack's ``n_sh``. A carried array rides
    through the join's shuffle and ``distinct`` once per colliding band:
    the exact-Jaccard verify fetches its shingle arrays for the distinct
    pairs afterwards (:func:`_array_jaccard_pairs`), while the
    incremental embedding and signature filters carry theirs (each says
    why)."""
    left, right = (
        stack.select(
            F.col(id_col).alias(o),
            *[F.col(c).alias(f"{name}_{s}") for c, name in carry],
            "band_idx",
            key,
        )
        for s, o, stack in (("a", out[0], stack_a), ("b", out[1], stack_b))
    )
    pairs = left.join(right, ["band_idx", key])
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    return pairs.select(*out, *[f"{name}_{s}" for _, name in carry for s in "ab"]).distinct()


def _array_jaccard_pairs(
    candidates: DataFrame, sig_a: DataFrame, sig_b: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the (doc_a, doc_b, n_a, n_b)
    ``candidates`` whose exact capped-shingle Jaccard, rounded 6 dp,
    reaches ``threshold``. Verification is candidate-proportional: each
    candidate fetches its two sorted shingle arrays from the persisted
    signature frames (doc_a's from ``sig_a``, doc_b's from ``sig_b``)
    and intersects them JVM-side, so the corpus is not re-scanned and no
    |cand| x doc_len rows are exploded through a pair-keyed shuffle."""
    a = sig_a.select(F.col(id_col).alias("doc_a"), F.col("sh_arr").alias("sa"))
    b = sig_b.select(F.col(id_col).alias("doc_b"), F.col("sh_arr").alias("sb"))
    inter_col = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "n_a", "n_b", inter_col.alias("inter"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
    max_bucket_size: int | None = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """C2: MinHash + LSH banding near-dup candidates, verified by true
    Jaccard >= threshold. Output: (doc_a, doc_b, jaccard) with
    doc_a < doc_b, jaccard rounded 6 dp.

    This is the 100 TB path. Candidates, the banding contract
    (``bands`` must divide ``num_hashes``) and both caps
    (``max_shingle_df``, ``max_bucket_size``) are those of
    :func:`_minhash_band_candidates`; the verify, computed ONLY for LSH
    candidates, is :func:`_array_jaccard_pairs`. With the shingle cap
    the output equals :func:`ngram_jaccard_pairs` wherever banding
    recall is 1."""
    sig, candidates = _minhash_band_candidates(
        docs, num_hashes, bands, n, id_col, text_col,
        max_shingle_df, max_bucket_size, hash_family,
    )
    return _array_jaccard_pairs(candidates, sig, sig, id_col, threshold)


def minhash_estimate_audit(
    docs: DataFrame,
    threshold: float,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Estimator-accuracy audit for the MinHash family: for every LSH
    candidate pair whose EXACT Jaccard reaches ``threshold``, emit the
    signature-agreement ESTIMATE next to the exact value —
    (doc_a, doc_b, jaccard, est_jaccard, abs_err), all rounded 6 dp.

    The production dedup path (minhash_lsh_pairs) verifies candidates
    with exact Jaccard precisely because the k-component estimate has
    sd sqrt(j(1-j)/k) (~0.12 at j=0.5, k=16) — far too loose to
    threshold on. This operator is the measured-evidence row for that
    design choice (the honest-estimator sibling of c35/c91's ANN
    recall rows): at 100 TB you periodically audit the estimator
    against exact Jaccard on the (candidate-proportional) verified
    subset, never corpus-wide.

    Candidates come from :func:`_minhash_band_candidates` with the
    md5-portable family (the audit path must be engine-portable so a
    DuckDB twin rebuilds signatures bit-for-bit) and no bucket cap. Each
    candidate fetches its two signatures and sorted shingle arrays from
    the one persisted signature frame: the estimate compares the
    signatures, the exact Jaccard intersects the arrays, as in
    :func:`minhash_lsh_pairs`."""
    sig, candidates = _minhash_band_candidates(
        docs, num_hashes, bands, n, id_col, text_col, max_shingle_df, None, "md5"
    )
    a_sig, b_sig = (
        sig.select(
            F.col(id_col).alias(f"doc_{s}"),
            F.col("sh_arr").alias(f"s{s}"),
            *[F.col(f"mh_{i}").alias(f"{s}_{i}") for i in range(num_hashes)],
        )
        for s in "ab"
    )
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    inter_col = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("long")
    scored = (
        candidates.join(a_sig, "doc_a")
        .join(b_sig, "doc_b")
        .select(
            "doc_a", "doc_b", "n_a", "n_b",
            inter_col.alias("inter"),
            (agree.cast("double") / F.lit(float(num_hashes))).alias("__est"),
        )
    )
    j_raw = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        scored.select(
            "doc_a",
            "doc_b",
            round6_bin(j_raw).alias("jaccard"),
            round6_bin(F.col("__est")).alias("est_jaccard"),
            round6_bin(F.abs(F.col("__est") - j_raw)).alias("abs_err"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _embedding_signatures(
    vectors: DataFrame,
    num_planes: int,
    dim: int,
    id_col: str,
    vec_col: str,
    err_label: str,
) -> DataFrame:
    """Per-vector hyperplane signature projection shared by the batch
    pair-finder and the incremental index: (vec_id, v, nrm, bits).

    HOF (zip_with + aggregate) DELIBERATELY, not a flat unrolled Add
    chain: an unrolled num_planes×dim expression (~6k literal nodes) is
    ~1.5x faster per ROW in an isolated projection, but blows up
    Catalyst analysis/canonicalization/codegen across the composite
    pipelines that re-reference this frame and re-plan per AQE stage —
    measured c2e 3.5s -> 13.4s at sf0.1 from DRIVER-side planning alone
    (r7 A/B, SCALE.md). Compact HOF plans win end-to-end; revisit only
    if Spark codegens lambdas.

    ||v|| is computed ONCE here and carried to every verify consumer.
    Guarded: a NULL/zero-norm vector would make a verify cosine
    0/0 = NaN, which sorts ABOVE every threshold in a desc comparison —
    fail loudly instead (the similarity.py::_checked_norm hazard class);
    the guard lives in aggregate's FINISH lambda, so the dim-element
    fold runs once per row (the r6 duplicate-evaluation lesson)."""
    from sheetsetl_spark.operators.similarity import hyperplanes

    planes = hyperplanes(num_planes, dim)
    # The whole projection is built as TWO parsed SQL expressions (plane
    # matrix inlined as a literal): the Python-lambda HOF + per-element
    # F.lit form cost ~1.8s (literals) + ~0.9s (lambda construction) of
    # py4j round-trips per DataFrame BUILD — pure driver tax paid on
    # every invocation of every consumer (functions/lits.py rationale;
    # r11). The parsed string yields the identical Catalyst tree, so
    # signatures are bit-identical.
    matrix_sql = (
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")"
            for row in planes
        )
        + ")"
    )
    vec_sql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    bits = F.expr(
        f"concat_ws('', transform({matrix_sql}, "
        f"row -> CASE WHEN aggregate(zip_with(row, {vec_sql}, "
        "(a, b) -> a * b), 0.0D, (acc, x) -> acc + x) > 0 "
        "THEN '1' ELSE '0' END))"
    )
    norm = F.expr(
        f"aggregate(zip_with({vec_sql}, {vec_sql}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x, "
        f"s -> CASE WHEN s > 0 THEN sqrt(s) ELSE raise_error('{err_label}: "
        "NULL or zero-norm vector has no direction; filter such rows out "
        "first') END)"
    )
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        F.expr(vec_sql).alias("v"),
        norm.alias("nrm"),
        bits.alias("bits"),
    )


def choose_banding(n_rows: int, bands: int = 4) -> tuple[int, int]:
    """Band-width policy for the hyperplane-LSH embedding family:
    returns ``(num_planes, bands)`` for a corpus of ``n_rows`` vectors.

    Codifies the r9-MEASURED band-value-space law (SCALE.md): the band
    value space ``2^(num_planes/bands)`` must track the corpus size to
    keep per-bucket occupancy O(1) — with 8-bit bands (256 values) the
    banded equi-join's candidate mass is ~n²/256 per band, which
    spilled 78 GB and died at 200k vectors, while 16-bit bands
    completed in 25.8s with planted recall 1.0. Measured anchors:

    * n ≤ 20,000 — 8-bit bands (the legacy 32/4 default): verified
      linear through the 10x fixture; also what every registered
      oracle twin inlines, so the small regime must stay EXACTLY here.
    * n = 200,000 — 16-bit bands (64/4): the measured 100x fix.
    * beyond — occupancy law: width ≥ log2(n/4), i.e. ≤4 expected
      vectors per bucket for uniformly-spread signatures, floored at
      the verified 16 and capped at 30 (a 10⁹-vector corpus gets
      28-bit bands; signature cost grows only linearly in width).

    Widening bands lowers per-band recall (p^w for plane-agreement p);
    16-bit×4 was recall-verified at threshold 0.98 — for looser
    thresholds add bands as you widen rather than trusting the cap.
    """
    if n_rows <= 20_000:
        width = 8
    else:
        # ceil(log2(ceil(n/4))) == bit_length(ceil(n/4) - 1)
        width = min(30, max(16, (-(-n_rows // 4) - 1).bit_length()))
    return width * bands, bands


def _hyperplane_signatures(
    vectors: DataFrame,
    num_planes: int | None,
    bands: int,
    dim: int,
    id_col: str,
    vec_col: str,
    n_rows: int | None,
    err_label: str,
) -> tuple[DataFrame, int, int]:
    """One side of a hyperplane band join: ``(sig, bands, width)``, sig
    the :func:`_embedding_signatures` frame of ``vectors`` (one row per
    vector) and the resolved banding. ``num_planes=None`` takes
    :func:`choose_banding` of ``n_rows``, or of a ``count()`` of
    ``vectors`` when that is None too; the banding must pass
    :func:`_rows_per_band`. The projection is num_planes x dim
    interpreted multiply-adds per vector, the compute-dense case
    ``skew.widen_to_cores`` exists for (a compact corpus parquet exposes
    1-8 row groups), so the vectors are widened first."""
    if num_planes is None:
        num_planes, bands = choose_banding(
            n_rows if n_rows is not None else vectors.count(), bands
        )
    width = _rows_per_band(num_planes, bands, "num_planes")
    from sheetsetl_spark.operators.skew import widen_to_cores

    sig = _embedding_signatures(
        widen_to_cores(vectors), num_planes, dim, id_col, vec_col, err_label
    )
    return sig, bands, width


def _hyperplane_stack(sig: DataFrame, bands: int, width: int, *carry: str) -> DataFrame:
    """(vec_id, *carry, band_idx, band_val): the signature frame in
    band-exploded long form, one row per vector and band; band b's key
    is bits [b * width, (b + 1) * width) of the signature string."""
    band_arr = F.array(*[F.substring("bits", b * width + 1, width) for b in range(bands)])
    return sig.select("vec_id", *carry, F.posexplode(band_arr).alias("band_idx", "band_val"))


def _cosine_pairs(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, sim) for the (vec_a, vec_b, v_a, v_b, n_a, n_b)
    ``pairs`` whose exact cosine reaches ``threshold``, sim unrounded:
    the verify step of the hyperplane family."""
    from sheetsetl_spark.operators.similarity import _dot

    sim = _dot("v_a", "v_b") / (F.col("n_a") * F.col("n_b"))
    return pairs.select("vec_a", "vec_b", sim.alias("sim")).filter(F.col("sim") >= threshold)


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.98,
    num_planes: int | None = None,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """C2: embedding-cosine near-duplicate pairs via hyperplane-LSH
    blocking + exact cosine verification.

    Candidate generation: each vector gets a ``num_planes``-bit signature
    (sign of dot with deterministic ±1 hyperplanes), split into ``bands``
    bands; vectors agreeing on any full band collide. Banding is the
    OR-construction that keeps recall ≈ 1 for sims near the threshold
    while the candidate join stays an equi-join on (band_idx, band_val)
    — the only pattern that survives a billion-vector corpus (never a
    cross join). Verification computes exact cosine only for candidates.

    PARAMETER-SCALING RULE (measured, SCALE.md round-9; codified in
    :func:`choose_banding` round-10): the band VALUE SPACE
    ``2^(num_planes/bands)`` must track the corpus size to keep
    per-bucket occupancy O(1). 8-bit bands (256 values) suit
    ~10^3-10^4 vectors; at 200k vectors (the 100x fixture) the
    per-band candidate mass of 8-bit bands spilled 78 GB before dying,
    while 16-bit bands (num_planes=64, bands=4) completed in 75.7s with
    every planted >=0.98 pair still recovered. Same defect class as the
    media tier's dead-band quadratic: bucket occupancy, not corpus
    size, is what the equi-join pays for. Widening bands lowers
    per-band recall (p^w for plane-agreement p), so when you widen,
    re-check recall on your threshold — near sim 0.98+, 16-bit bands x4
    keep recall >0.99; for looser thresholds add bands as you widen.

    ``num_planes=None`` (the default) applies the law automatically by
    feeding a ``count()`` of the input to :func:`choose_banding`. That
    count is cheap only for (near-)raw scans — a DERIVED frame (unions,
    zip_with/transform columns, expensive filters) pays a full extra
    evaluation of its plan just to be counted. Callers that already
    know the corpus size should pass ``n_rows`` (skips the count
    entirely; c49's ingest derives it from the stored index the same
    way) or pin ``num_planes`` outright. NOTE (r10 behavior change):
    the pre-law default was a fixed 32/4 — >20k-row callers now get
    wider bands and thus slightly lower per-band recall (measured
    >0.99 at threshold 0.98; re-check if your threshold is looser).
    Either way the banding must pass :func:`_rows_per_band`.

    Candidates are the :func:`_band_join` self-join of the
    :func:`_hyperplane_stack`; each distinct pair then fetches its two
    vectors and norms from the signature frame for :func:`_cosine_pairs`.

    Output: (vec_a, vec_b, sim) with vec_a < vec_b and sim >= threshold.
    """
    sig, bands, width = _hyperplane_signatures(
        vectors, num_planes, bands, dim, id_col, vec_col, n_rows, "embedding_neardup_pairs"
    )
    # Signature bits cost num_planes × dim multiply-adds per vector and
    # feed three consumers (banding + both verify sides) — persist so the
    # projection runs once instead of three times.
    sig = scoped_persist(sig)
    stacked = _hyperplane_stack(sig, bands, width)
    pairs = _band_join(
        stacked, stacked, "vec_id", F.col("vec_a") < F.col("vec_b"),
        key="band_val", carry=(), out=("vec_a", "vec_b"),
    )
    a, b = (
        sig.select(
            F.col("vec_id").alias(f"vec_{s}"), F.col("v").alias(f"v_{s}"), F.col("nrm").alias(f"n_{s}")
        )
        for s in "ab"
    )
    # No broadcast hint on the vector sides: at fixture scale AQE
    # broadcasts them anyway, but at 10⁹ vectors the vector table is the
    # BIG side (candidates ≪ corpus) and the hint would force an
    # un-broadcastable build — let the planner pick shuffle-hash on the
    # id key when the sides grow.
    return _cosine_pairs(pairs.join(a, "vec_a").join(b, "vec_b"), threshold).select(
        "vec_a", "vec_b", F.round("sim", 6).alias("sim")
    )


def embedding_band_index(
    vectors: DataFrame,
    num_planes: int | None = None,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """The STORED index for incremental embedding near-dup: one row per
    (vector, band) — (vec_id, v, nrm, band_idx, band_val), the
    :func:`_hyperplane_stack` carrying the vector and its norm.

    Unlike the text index (minhash_band_table stores signatures only —
    re-deriving shingles would rescan history TEXT), the vector itself
    rides along: embeddings are compact (dim doubles ≈ the signature's
    own footprint), and storing them buys EXACT cosine verification at
    ingest time instead of a Hamming-agreement estimate, whose sd at 32
    planes (~0.09 in cos-angle) is far too loose for a 0.98 threshold.
    Persist this frame (e.g. parquet partitioned by band_idx) and append
    survivors' rows after each ingest; per-ingest cost is then
    O(new + collisions) with no history rescan.

    ``num_planes=None`` sizes the band value space from a ``count()``
    of the HISTORY corpus via :func:`choose_banding` — the right
    default for index CREATION (history is the big side whose bucket
    occupancy the law protects). The count is cheap only when the
    history frame is a (near-)raw scan; a derived frame (planted
    unions, transformed columns) pays a full extra evaluation — pass
    ``n_rows`` when the size is already known. Ingest-side consumers
    must match the stored banding:
    :func:`incremental_embedding_neardup_filter` re-derives it from
    the index frame itself, never from the batch."""
    sig, bands, width = _hyperplane_signatures(
        vectors, num_planes, bands, dim, id_col, vec_col, n_rows, "embedding_band_index"
    )
    return _hyperplane_stack(sig, bands, width, "v", "nrm")


def incremental_embedding_neardup_filter(
    new_vectors: DataFrame,
    index: DataFrame,
    threshold: float = 0.98,
    num_planes: int | None = None,
    bands: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental embedding near-dup against a MAINTAINED band index
    (:func:`embedding_band_index`): drop new-batch vectors whose EXACT
    cosine to any colliding indexed vector reaches ``threshold``; return
    the surviving new rows. The hyperplane member of the incremental
    filters: candidates are the :func:`_band_join` of the batch's own
    band index against the stored one, verification
    (:func:`_cosine_pairs`) runs only on collisions, O(new + collisions)
    per ingest, no history rescan.

    Both indexes carry their vectors and norms through the band join.
    Deduplicating ids first and fetching the vectors afterwards from
    each index's band-0 row reads the index twice; for an index built
    in the same plan (c49) the second read re-runs the signature
    projection, measured +0.17 to +0.42 s per c49 run at sf0.1 on a
    4-core host, and pinning that index with a local checkpoint cost
    more than it saved.

    ``max_bucket_size`` caps degenerate index buckets before the join
    (a hot band value shared by millions of history vectors would make
    the join quadratic in that bucket); over-cap rows just can't match
    via that band — the standard recall trade. Default ``None``
    preserves exact parity with the c49 oracle twin.

    ``num_planes=None`` re-derives the banding FROM THE INDEX (one
    pruned two-column agg: bands = max(band_idx)+1, band width =
    length(band_val)) — never from the new batch, whose size says
    nothing about the stored layout: a 60-row ingest against a 200k
    index must signature the batch with the index's 16-bit scheme or
    the equi-join keys don't line up at all. Empty index → the law is
    applied to the batch itself via :func:`choose_banding`."""
    if num_planes is None:
        hdr = index.agg(
            F.max("band_idx").alias("bi"),
            F.max(F.length("band_val")).alias("w"),
        ).collect()[0]
        if hdr["bi"] is not None:  # else: empty index, nothing stored to match
            bands = int(hdr["bi"]) + 1
            num_planes = bands * int(hdr["w"])
    new_index = embedding_band_index(
        new_vectors, num_planes=num_planes, bands=bands, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    if max_bucket_size is not None:
        index = _drop_hot_keys(index, ["band_idx", "band_val"], max_bucket_size)
    candidates = _band_join(
        new_index, index, "vec_id", key="band_val",
        carry=(("v", "v"), ("nrm", "n")), out=("vec_a", "vec_b"),
    )
    dups = _cosine_pairs(candidates, threshold).select(F.col("vec_a").alias(id_col)).distinct()
    return new_vectors.join(dups, id_col, "left_anti")


def simhash64(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """C2: 64-bit SimHash per document over unigram tokens.

    bit_j(doc) = sign of sum over tokens of ±1 (bit j of hash(token)).
    Implemented as 64 conditional-sum aggregates over the exploded token
    stream — one shuffle, no UDF.

    ``token_hash``: 'xxhash64' (fastest, JVM-only) or 'md5' (a 60-bit
    value from the md5 hex prefix — engine-portable, what the DuckDB
    oracle twin uses; see queries/extensions.py::c2c_simhash)."""
    tok = docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("t"))
    if token_hash == "md5":
        n_bits = 60  # 15 hex chars -> always positive, fits signed 64-bit
        tok = tok.withColumn(
            "h", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint")
        )
    else:
        n_bits = 64
        tok = tok.withColumn("h", F.xxhash64("t"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(n_bits)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    # 2**63 overflows signed 64-bit; emit the fingerprint as two 32-bit
    # halves packed into a hex string.
    lo = reduce(
        lambda acc, j: acc + F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(0),
        range(32),
        F.lit(0).cast("bigint"),
    )
    hi = reduce(
        lambda acc, j: acc + F.when(F.col(f"s_{j + 32}") > 0, F.lit(1 << j)).otherwise(0),
        range(n_bits - 32),
        F.lit(0).cast("bigint"),
    )
    return sums.select(F.col(id_col), F.concat_ws(":", F.hex(hi), F.hex(lo)).alias("simhash"))


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair list — the step that
    turns pairwise near-dup output (C2) into duplicate CLUSTERS so a
    corpus can keep exactly one canonical doc per cluster.

    Min-label propagation: every node starts labelled with its own id;
    each round every node takes the min of its own and its neighbors'
    labels; converged when the (monotonically decreasing) label sum stops
    changing. Rounds needed = graph diameter — near-dup clusters are
    shallow (dups of a common source), so this terminates in a handful of
    distributed rounds; each round is one equi-join + one groupBy, both
    Catalyst-shuffled on the node key, and the frontier is
    localCheckpointed so plan depth stays constant. The driver sees only
    one scalar (the label sum) per round, never the data.

    Returns (node, cluster_id) with cluster_id = min node id reachable.
    """
    # Symmetrize by exploding a two-struct array, not a self-union: the
    # union form evaluates the ENTIRE upstream pairs pipeline (often the
    # full LSH candidate job) twice at checkpoint time.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
                    ),
                    F.struct(
                        F.col(dst_col).alias("u"), F.col(src_col).alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iterations):
        neighbor_labels = edges.join(
            labels.select(F.col("node").alias("u"), "label"), "u"
        ).select(F.col("v").alias("node"), "label")
        labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("node", F.col("label").alias("cluster_id"))


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    k_per_stratum: int,
    id_col: str,
) -> DataFrame:
    """Deterministic stratified downsampling: keep the k rows per stratum
    that rank first by md5(id) — a reproducible pseudo-random order that
    needs no seed plumbing and recomputes identically on any cluster (and
    in the DuckDB oracle, unlike sampleBy's partition-dependent Bernoulli
    draw). The corpus-balancing primitive: cap every source/language at k.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k_per_stratum)
        .drop("__rn")
    )


def eval_decontamination(
    train: DataFrame,
    evals: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing at
    least one word n-gram with an eval/benchmark document, with the
    evidence counts a removal decision needs (how many eval docs, how
    many distinct shared shingles).

    The eval set is tiny next to a 100 TB corpus, so its shingle table is
    broadcast — each training partition checks its shingles locally with
    zero shuffle of the corpus side; only the (rare) hits are aggregated.
    Output: (train_doc_id, n_eval_docs, n_shared_shingles).
    """
    tr = shingles(train, n=n, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("train_doc_id"), "shingle"
    )
    ev = shingles(evals, n=n, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_doc_id")
        .agg(
            F.countDistinct("eval_id").alias("n_eval_docs"),
            F.count("*").alias("n_shared_shingles"),
        )
    )


def weighted_resample(
    docs: DataFrame,
    weights: DataFrame,
    join_col: str = "source",
    weight_col: str = "weight",
    id_col: str = "doc_id",
    tag: str = "mix",
) -> DataFrame:
    """Materialize a target corpus mix from per-group sampling weights:
    every row is emitted floor(w) times plus one more with probability
    frac(w), driven by a deterministic md5 uniform of (tag, id) — so
    w < 1 downsamples, w > 1 oversamples (with copy_id distinguishing
    repeats), and the output is a pure function of (ids, weights, tag)
    on any cluster/partitioning.

    The weight table is groups-sized -> broadcast; the corpus side maps
    in place (hash + compare + explode), no shuffle at all.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(tag), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    w = F.col(weight_col)
    n_copies = (F.floor(w) + (u < (w - F.floor(w))).cast("bigint")).alias("n_copies")
    joined = docs.join(F.broadcast(weights), join_col).withColumn("n_copies", n_copies)
    return (
        joined.filter(F.col("n_copies") >= 1)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))))
        .drop("n_copies")
    )


def semantic_dedup(
    vectors: DataFrame,
    num_centroids: int = 16,
    threshold: float = 0.95,
    max_cluster_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C2 semantic tier (SemDeDup-shaped): coarse-cluster the embedding
    corpus, then drop every vector whose cluster holds a smaller-id vector
    with cosine >= ``threshold``. Returns the KEPT rows as (id, cent_id).

    Priority-by-id (instead of connected components) makes the result a
    pure semi-join: a vector survives iff no higher-priority near-twin
    shares its cluster — deterministic, one pass, no iteration. Centroids
    are the deterministic ``id < num_centroids`` subset so the whole
    operator (assignment included) is DuckDB-oracle-checkable; swap in
    trained k-means centroids via a broadcast table in production.

    Scale: assignment is broadcast(M) x corpus with no shuffle; the
    pairwise stage is one shuffle on cent_id and O(sum c_i^2) work, the
    SemDeDup contract — num_centroids must grow ~sqrt(N) so clusters stay
    bounded. ``max_cluster_size`` is the skew fuse: clusters bigger than
    the cap skip pairwise entirely (all kept, flagged upstream) rather
    than detonating a c^2 join on a degenerate centroid.
    """
    from sheetsetl_spark.operators.similarity import _dot
    from sheetsetl_spark.operators.skew import widen_to_cores

    # the assignment crossJoin (corpus x broadcast centroids, an
    # interpreted dot per pair) is compute-dense: don't let a compact
    # fixture's 2-8 row groups cap it (r9 100x find)
    e = widen_to_cores(vectors).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", F.sqrt(_dot("v", "v")))
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
        # 3 consumers (both pairwise sides + the final anti-join), and
        # the frame embeds the corpus x centroids assignment crossJoin —
        # un-pinned, each consumer re-ran it (the multi-consumer rule)
        .localCheckpoint(eager=False)
    )
    pairwise = assigned
    if max_cluster_size is not None:
        sizes = assigned.groupBy("cent_id").agg(F.count("*").alias("__csz"))
        pairwise = assigned.join(
            F.broadcast(sizes.filter(F.col("__csz") <= max_cluster_size)), "cent_id"
        ).drop("__csz")
    a = pairwise.select(
        "cent_id",
        F.col("vec_id").alias("keep_id"),
        F.col("v").alias("av"),
        F.col("vn").alias("an"),
    )
    b = pairwise.select(
        "cent_id",
        F.col("vec_id").alias("dup_id"),
        F.col("v").alias("bv"),
        F.col("vn").alias("bn"),
    )
    sim = _dot("av", "bv") / (F.col("an") * F.col("bn"))
    dups = (
        a.join(b, ["cent_id"])
        .filter(F.col("keep_id") < F.col("dup_id"))
        .filter(sim >= threshold)
        .select("dup_id")
        .distinct()
    )
    return assigned.join(
        dups, assigned["vec_id"] == dups["dup_id"], "left_anti"
    ).select("vec_id", "cent_id")


def fuzzy_name_pairs(
    df: DataFrame,
    text_col: str = "name",
    max_distance: int = 4,
    max_block_size: int | None = 10000,
) -> DataFrame:
    """Entity-resolution fuzzy matching: near-identical NAME pairs by
    Levenshtein distance, blocked on the last token.

    Works at the distinct-name level — the whole point of canonicalizing
    entities is that distinct names are orders of magnitude fewer than
    rows, so the pairwise stage runs on the small side and the result
    joins back to the corpus as a broadcast mapping. Blocking on the
    final token (the head noun in 'cold widget' / 'small widget') keeps
    the self-join an equi-join; ``max_block_size`` is the same skew fuse
    the shingle/bucket caps provide. Output: (name_a, name_b, distance)
    with name_a < name_b.
    """
    names = df.select(F.lower(F.trim(F.col(text_col))).alias("name")).distinct()
    blocked = names.withColumn("block", F.element_at(F.split(F.col("name"), " "), -1))
    if max_block_size is not None:
        w = Window.partitionBy("block")
        blocked = (
            blocked.withColumn("__bsz", F.count("*").over(w))
            .filter(F.col("__bsz") <= max_block_size)
            .drop("__bsz")
        )
    a = blocked.select(F.col("name").alias("name_a"), "block")
    b = blocked.select(F.col("name").alias("name_b"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .filter(F.col("distance") <= max_distance)
        .select("name_a", "name_b", "distance")
    )


def dedup_paragraphs(
    docs: DataFrame,
    chunk_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet/Dolma preprocessing step):
    split each document into fixed-width token chunks ("paragraphs" — the
    fixtures have no newline structure), keep only the globally-FIRST
    occurrence of every distinct chunk, and reassemble each document from
    its surviving chunks in order.

    First occurrence is the lexicographic minimum of (doc_id, chunk_idx)
    — deterministic under any partitioning, computed as a MIN of a struct
    over a window keyed on the chunk text. Two shuffles total at any
    scale: one on chunk text (the winner window), one on doc id (the
    reassembly); no self-join, no second corpus scan. Documents whose
    every chunk first appeared elsewhere vanish from the output (fully
    boilerplate docs), matching the oracle twin.

    Output: (id, clean_text, n_kept_chunks).
    """
    from sheetsetl_spark.operators.text import chunk_documents

    chunks = chunk_documents(
        docs, chunk_tokens=chunk_tokens, stride=chunk_tokens, id_col=id_col, text_col=text_col
    )
    w = Window.partitionBy("chunk_text")
    first = F.min(F.struct(id_col, "chunk_idx")).over(w)
    kept = chunks.withColumn("__first", first).filter(
        (F.col(id_col) == F.col(f"__first.{id_col}"))
        & (F.col("chunk_idx") == F.col("__first.chunk_idx"))
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
        lambda x: x["chunk_text"],
    )
    return kept.groupBy(id_col).agg(
        F.array_join(ordered, " ").alias("clean_text"),
        F.count("*").cast("int").alias("n_kept_chunks"),
    )


def incremental_neardup_filter(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Incremental near-dup: drop new-batch documents that near-duplicate
    an EXISTING corpus (the daily-crawl-vs-history shape).

    The scale property is the asymmetric band join: history↔history pairs
    are never generated (history was already deduped when it was
    ingested), so each increment costs O(new + collisions), not
    O(corpus²). In production the corpus side's signatures are a stored
    table maintained across ingests; here they are derived inline from
    the corpus DataFrame. Each side is a :func:`_minhash_band_side`
    (banding contract, persistence and ``cache_scope`` contract
    included), so shingle df-caps apply per side: each side's
    boilerplate is capped against its own frequency profile.

    Verification is :func:`_array_jaccard_pairs` over the new × history
    band collisions, so the kept set equals the exact-Jaccard answer
    whenever banding recall is 1 (the same contract as
    minhash_lsh_pairs).

    Output: the new-batch rows that survive (id + text + any other
    columns of ``new_docs``).
    """
    (new_sig, new_stack), (old_sig, old_stack) = (
        _minhash_band_side(
            side, num_hashes, bands, n, id_col, text_col, max_shingle_df, "xxhash64"
        )
        for side in (new_docs, corpus)
    )
    candidates = _band_join(new_stack, old_stack, id_col)
    dups = (
        _array_jaccard_pairs(candidates, new_sig, old_sig, id_col, threshold)
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    return new_docs.join(dups, id_col, "left_anti")


def minhash_band_table(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """The maintained dedup INDEX for incremental ingest: per document,
    the full minhash signature (as an array) plus the band hashes, in
    band-exploded long form (id, sig, band_idx, band_hash); the banding
    contract is :func:`_rows_per_band`'s.

    This is what production near-dup systems persist between ingests —
    O(docs × bands) short rows, NOT the shingle stream — so each new
    batch pays O(new + collisions) instead of re-deriving signatures
    over the whole history (see incremental_neardup_filter_sig)."""
    rows_per_band = _rows_per_band(num_hashes, bands)
    sig = minhash_signatures(
        docs, num_hashes=num_hashes, n=n, id_col=id_col,
        text_col=text_col, max_shingle_df=max_shingle_df,
        hash_family=hash_family,
    )
    sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
    return _band_stack(sig, id_col, bands, rows_per_band, hash_family, sig_arr.alias("sig"))


def incremental_neardup_filter_sig(
    new_docs: DataFrame,
    band_table: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = 1000,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup against a MAINTAINED signature index: drop
    new-batch documents whose estimated Jaccard to any indexed document
    reaches ``threshold``.

    ``max_bucket_size`` caps degenerate (band_idx, band_hash) buckets in
    the STORED index before the candidate join — without it, a hot bucket
    (e.g. millions of short near-identical docs sharing a band value in a
    100 TB history) turns the join quadratic in that bucket's size,
    undercutting the O(new + collisions) claim. Index rows in an over-cap
    bucket are excluded from candidate generation for this call (their
    docs simply can't be matched via that band), the same trade
    ``minhash_lsh_pairs`` makes. Default ``None`` preserves exact parity
    with the c38 oracle twin.

    Contrast with :func:`incremental_neardup_filter` (exact verification,
    re-derives the history shingle stream every call): here the history
    side is only the stored band table — candidates come from the band
    equi-join, and verification is the minhash AGREEMENT FRACTION
    (E[agreement] = Jaccard, the classic estimator), computed from the
    stored signatures alone. Per-ingest cost is O(new + collisions) with
    NO rescan of history text — the shape that holds when history is
    100 TB and the daily batch is 0.1% of it. Explicitly approximate:
    the estimate concentrates around true Jaccard with sd
    ~sqrt(J(1-J)/num_hashes); raise num_hashes to tighten.

    Candidates are the :func:`_band_join` of the batch's own band table
    against the stored one, each side's ``sig`` carried through it, so
    every pair is scored with the signatures of the two rows that
    collided even where an id repeats. Deduplicating ids first and
    fetching the signatures from each table's band-0 row afterwards
    reads the stored index twice and was no faster (CHANGES.md).

    Returns the surviving new-batch rows."""
    new_bands = minhash_band_table(
        new_docs, num_hashes=num_hashes, bands=bands, n=n,
        id_col=id_col, text_col=text_col, max_shingle_df=max_shingle_df,
        hash_family=hash_family,
    )
    if max_bucket_size is not None:
        band_table = _drop_hot_keys(band_table, ["band_idx", "band_hash"], max_bucket_size)
    candidates = _band_join(new_bands, band_table, id_col, carry=(("sig", "sig"),))
    agreement = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda x: x,
        )
    ) / F.lit(num_hashes)
    dups = (
        candidates.filter(agreement >= threshold)
        .select(F.col("doc_a").alias(id_col))
        .distinct()
    )
    return new_docs.join(dups, id_col, "left_anti")


def duplicated_passages(
    docs: DataFrame,
    min_len: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
) -> DataFrame:
    """C2: MAXIMAL duplicated-passage extraction — the relational form of
    exact-substring dedup (the suffix-array construction of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    every token span of length >= ``min_len`` occurring in >= ``min_docs``
    distinct documents is duplicated, and overlapping/adjacent duplicated
    windows merge into their MAXIMAL span — the exact byte ranges an
    exact-substring deduper would cut, not just a per-source ratio
    (that cheaper rollup is ``c40_repeated_ngram_spans``).

    Output: (doc_id, start_pos, end_pos, n_tokens) with 1-based inclusive
    token positions.

    Plan shape at 100 TB: one corpus scan builds the positioned
    ``min_len``-gram stream (Catalyst sequence/transform/slice lambdas,
    no Python); gram -> distinct-doc-count is ONE shuffle on the gram key
    computed as dense_rank+max windows over the gram partition — the
    window buffer is Spark's spill-backed row array, so even a
    boilerplate gram shared by millions of docs spills rather than OOMs
    (this index IS the dedup structure — same posture as the minhash band
    table, never an all-pairs stage); the island merge
    (pos - row_number) runs in a PER-DOCUMENT window, bounded by document
    length. ``max_gram_df`` additionally drops degenerate boilerplate
    grams (license headers) via the standard hot-list anti-join before
    they fan out.
    """
    # tokenize ONCE into a projected column: referencing split(text)
    # inside the slice lambda re-splits the document per window position
    # (the measured 3.7x shingles lesson above). NOT widened (r11): the
    # A/B at sf0.1 read widen +0.07 s — the gram explode here feeds the
    # gram-key window shuffle immediately, so the serial span is short
    # and the exchange never pays for itself (contrast shingles(), whose
    # consumers hash/aggregate heavily before their first shuffle).
    toks = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
    w = F.col("__w")
    # sequence(a, b) counts DOWN when b < a — short docs get no windows
    idx = F.when(
        F.size(w) >= min_len, F.sequence(F.lit(1), F.size(w) - (min_len - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice(w, i, min_len), " ").alias("gram"),
                ),
            )
        ).alias("g"),
    ).select(id_col, "g.pos", "g.gram")
    if max_gram_df:
        grams = _drop_hot_keys(grams, ["gram"], max_gram_df)
    # distinct-doc count per gram as a WINDOW over the gram partition:
    # one shuffle of the gram stream and one evaluation of the explode/
    # slice projection, vs the aggregate-then-self-join form's two of
    # each (measured ~35% of c45's wall time at sf0.1). dense_rank over
    # (gram ORDER BY doc_id) then max over the same partition = distinct
    # doc count WITHOUT materializing a per-gram set on the heap (the
    # earlier collect_set form built an in-memory set per gram — a
    # boilerplate gram shared by millions of docs would OOM); WindowExec
    # buffers rows in a spillable array, so a hot gram spills instead.
    # Both windows share the gram partitioning: one Exchange, one sort.
    wd = Window.partitionBy("gram").orderBy(id_col)
    wg = Window.partitionBy("gram")
    dup = (
        grams.withColumn("__dr", F.dense_rank().over(wd))
        .withColumn("__gdocs", F.max("__dr").over(wg))
        .filter(F.col("__gdocs") >= min_docs)
        .select(id_col, "pos")
    )
    # gaps-and-islands per document: consecutive duplicated window starts
    # share (pos - row_number); each island covers [min_pos, max_pos+L-1]
    wseq = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        dup.withColumn("__isl", F.col("pos") - F.row_number().over(wseq))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("pos").alias("start_pos"),
            (F.max("pos") + (min_len - 1)).alias("end_pos"),
        )
    )
    return spans.select(
        id_col,
        F.col("start_pos").cast("int").alias("start_pos"),
        F.col("end_pos").cast("int").alias("end_pos"),
        (F.col("end_pos") - F.col("start_pos") + 1).cast("int").alias("n_tokens"),
    )


def _rarity_prefix_candidates(
    stream: DataFrame,
    id_col: str,
    tok_col: str,
    prefix_len: Column,
    bound: Callable[[Column, Column, Column], Column],
    carry: tuple[str, ...] = (),
    pair_filter: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Candidate pairs of an exact set-similarity self-join by rarity
    prefix filtering (the AllPairs/PPJoin family — Chaudhuri et al.
    ICDE'06, Xiao et al. WWW'08; public algorithms), shared by
    :func:`prefix_filter_jaccard_pairs` and :func:`edit_distance_pairs`.

    ``stream`` holds one row per (document ``id_col``, token
    ``tok_col``), tokens unique per document; ``carry`` names columns
    constant per document that ride along to ``pair_filter``.

    PREFIX THEOREM: order every document's tokens by the global
    (df, token) order, rarest first, and call its first p tokens its
    PREFIX. Two documents that share no prefix token have their whole
    overlap inside one document's suffix, so overlap <= |d| - p. A
    caller whose similarity predicate needs overlap > |d| - p of every
    qualifying pair therefore finds each such pair in the equi-join of
    the PREFIX streams alone — each document's rarest tokens, a small
    fanout even when a boilerplate token sits in f documents (it is
    almost never among a document's rarest). ``prefix_len`` is that p,
    a Column over ``__n`` (the document's token count).

    PPJOIN POSITIONAL BOUND: both token lists sort by the same global
    order, so every common token ordered before the pair's last shared
    prefix token lies inside both prefixes and is already counted in s,
    the number of shared prefix tokens:
        overlap <= s + min(n_a - max_ia, n_b - max_ib)
    (max_ia/max_ib: the 1-based ranks of the last shared prefix token).
    ``bound(ub, n_a, n_b)`` gets that upper bound and both token counts
    and keeps the pairs that can still qualify. It runs on the
    (doc_a, doc_b) aggregation, before anything heavy attaches.
    ``pair_filter`` runs on the joined prefix rows next to
    doc_a < doc_b; a carried column c appears there as ``c_a``/``c_b``.

    Returns ``(cand, arrays)``: cand = (doc_a, doc_b) with
    doc_a < doc_b; arrays = (__id, __toks, __n), each document's token
    array for the caller's verify step, in (df, token) order
    (array_intersect does not depend on order). A verify that fetches
    two arrays per surviving pair and intersects them JVM-side is
    candidate-proportional; the O(|cand| x doc_len) row expansion it
    replaces spilled >80 GB on a dense-df 10x fixture (SCALE.md
    round-7). The arrays hold the token strings themselves: dense
    integer ids would narrow them but cost an id assignment of four
    exchanges and a checkpoint per call, which measured slower at sf0.1
    — a trade to revisit for a corpus with very long tokens.

    Shape: df is a groupBy on the token, which collapses map-side to
    per-partition distinct tokens before its exchange, broadcast-joined
    back onto the stream; a count window over the token key would push
    the whole stream through an exchange + sort instead. The (df, token)
    pairs then fold into ONE sorted array per document whose position is
    the rarity rank. That per-document frame — corpus rows, not stream
    rows — is the only multi-consumer and the only thing persisted. The
    df table broadcasts, so the token vocabulary must fit a build side:
    character q-grams are bounded by |alphabet|^q times the occurrence
    tail (KBs at fixture scale), word shingles grow with the corpus.
    Callers hash-spread the document rows by id before the token
    explode, so the fold's groupBy needs no exchange of the stream."""
    tok_df = stream.groupBy(tok_col).agg(F.count("*").alias("df"))
    docarr = scoped_persist(
        stream.join(F.broadcast(tok_df), tok_col)
        .groupBy(F.col(id_col).alias("__id"), *carry)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col(tok_col)))
            ).alias("__arr")
        )
        .select("__id", *carry, "__arr", F.size("__arr").alias("__n"))
    )
    prefix = docarr.select(
        "__id",
        *carry,
        "__n",
        F.posexplode(F.slice("__arr", F.lit(1), prefix_len)).alias("pos", "__pt"),
    )
    a, b = (
        prefix.select(
            F.col("__id").alias(f"doc_{s}"),
            F.col(f"__pt.{tok_col}").alias(tok_col),
            (F.col("pos") + 1).alias(f"__i{s}"),
            F.col("__n").alias(f"__n{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )
        for s in "ab"
    )
    pairs = F.col("doc_a") < F.col("doc_b")
    if pair_filter is not None:
        pairs = pairs & pair_filter
    na, nb = F.col("__bna"), F.col("__bnb")
    upper = F.col("__s") + F.least(na - F.col("__mi"), nb - F.col("__mj"))
    cand = (
        a.join(b, tok_col)
        .filter(pairs)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("__s"),
            F.max("__ia").alias("__mi"),
            F.max("__ib").alias("__mj"),
            F.max("__na").alias("__bna"),
            F.max("__nb").alias("__bnb"),
        )
        .filter(bound(upper, na, nb))
        .select("doc_a", "doc_b")
    )
    arrays = docarr.select(
        "__id",
        F.expr(f"transform(__arr, x -> x.{tok_col})").alias("__toks"),
        "__n",
    )
    return cand, arrays


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs with word
    n-gram shingle-set Jaccard >= ``threshold`` (0 < threshold <= 1),
    with NO df cap and NO approximation. Documents shorter than ``n``
    words have no shingles and never pair.

    Contrast the two other near-dup paths: ngram_jaccard_pairs is exact
    over a CAPPED shingle universe (boilerplate shingles dropped),
    minhash_lsh_pairs is probabilistic. Here exactness and a
    sub-quadratic candidate set come from the prefix theorem of
    :func:`_rarity_prefix_candidates`: J >= t implies
    |A∩B| >= t|A|, which exceeds the suffix |A| - p for
    p = |A| - ceil(t|A|) + 1, so every qualifying pair shares a prefix
    shingle. The positional bound then prunes candidates whose overlap
    cannot reach t/(1+t)*(n_a+n_b), and the survivors are verified by
    an exact array intersection. The DuckDB twin is the UNCAPPED
    brute-force join, so a hash match at fixture scale certifies the
    filter's completeness, not just its own construction.

    Scale: at a realistic t (>= 0.5) a hot shingle is almost never in
    any prefix, so the f² blowup the df cap guards against elsewhere
    cannot happen; when the WHOLE df distribution is dense (no rare
    shingles), candidates grow and the positional filter + array verify
    keep the cost linear in the candidate count. The df branch
    re-derives the map-only shingle stream (no exchange in its lineage
    to reuse); measured at sf0.1, that second shingle pass costs less
    than the full-stream exchange + sort of a df window.

    Output: (doc_a, doc_b, inter, jaccard) with doc_a < doc_b,
    jaccard rounded 6 dp (filtering happens on the raw double, computed
    identically in both engines).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if n < 1:
        raise ValueError(f"shingle size n must be >= 1, got {n}")
    sh = shingles(docs, n=n, id_col=id_col, text_col=text_col, spread_key=True)
    # t*|d| in doubles can land one ulp above an integer (0.56 * 25 ->
    # 14.000000000000002), and a ceil one too high shortens the prefix
    # below what the verify's double comparison admits; the epsilon can
    # only lengthen a prefix, which adds candidates the verify drops.
    n_sh = F.col("__n")
    prefix_len = (
        n_sh - F.ceil(F.lit(threshold) * n_sh - F.lit(1e-9)) + F.lit(1)
    ).cast("int")
    cand, arrays = _rarity_prefix_candidates(
        sh,
        id_col,
        "shingle",
        prefix_len,
        # overlap >= t/(1+t)*(n_a+n_b), epsilon-guarded on the safe side
        bound=lambda ub, na, nb: (
            F.lit(1.0 + threshold) * ub.cast("double")
            >= F.lit(threshold) * (na + nb).cast("double") - F.lit(1e-9)
        ),
    )
    arr_a, arr_b = (
        arrays.select(
            F.col("__id").alias(f"doc_{s}"),
            F.col("__toks").alias(f"s{s}"),
            F.col("__n").alias(f"n_{s}"),
        )
        for s in "ab"
    )
    inter_col = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jacc = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter_col.cast("long").alias("inter"),
            "n_a",
            "n_b",
        )
        .filter(jacc >= F.lit(threshold))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            round6_bin(jacc).alias("jaccard"),
        )
    )


def edit_distance_pairs(
    docs: DataFrame,
    k: int,
    q: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 0,
) -> DataFrame:
    """EXACT edit-distance self-join (Ed-Join family — Gravano et al.
    VLDB'01 count filter, Xiao et al. VLDB'08 prefix filter; public
    algorithms): all document pairs with Levenshtein distance <= ``k``
    (k >= 0), complete by theorem — no blocking heuristic, no
    approximation.

    Contrast :func:`fuzzy_name_pairs`, which blocks on the last token —
    a recall HEURISTIC (a pair disagreeing in its final token is never
    compared). Here candidates come from positional q-gram theory, so
    the brute-force DuckDB twin certifies completeness on real data:

    1. Every string maps to its multiset of character q-grams, made a
       SET by occurrence-numbering duplicates (gram#1, gram#2, ...) —
       the standard multiset-to-set encoding, so array ops below keep
       exact multiset semantics on repetitive text ("batch batch ...").
    2. COUNT FILTER: one edit destroys at most q grams, so
       ed(a,b) <= k implies |Ga ∩ Gb| >= max(|Ga|, |Gb|) - q*k.
    3. PREFIX FILTER: with prefix length q*k + 1, the count filter needs
       more overlap than a suffix of |G| - q*k - 1 grams holds, so the
       prefix theorem of :func:`_rarity_prefix_candidates` applies:
       every true pair with a POSITIVE count bound shares one of its
       q*k+1 globally-RAREST grams. Pairs where BOTH docs have <= q*k
       grams make the bound vacuous and come from the dedicated
       short-band length-bucket join instead (a completeness hole the
       hypothesis brute-force twin caught).
    4. Candidates pass the LENGTH filter (||a|-|b|| <= k) on the joined
       prefix rows and the positional bound against the count filter at
       candidate aggregation. Survivors then fetch two occurrence-token
       arrays, pass the full count filter via ``array_intersect``, and
       finally the exact JVM-side ``levenshtein`` <= k.

    Scale: one corpus scan; the document rows are hash-spread by id
    before the gram explode, so the gram generation runs at full width
    even on a compactly-written file and the token stream (~q× the text
    bytes) crosses no exchange. Filter order matters: this corpus's
    q-gram df distribution is DENSE at every q (tiny synthetic
    vocabulary; SCALE.md round-7 batch-11), so raw prefix-join pairs
    grow quadratically (652k -> 68.7M at 10x) and attaching arrays to
    raw candidates spilled 58 GB; with the length + positional filters
    in the aggregation the attach set is 12-15x smaller, and the exact
    count filter then kills >99.7% of what remains before the O(len^2)
    DP (43,128 -> 103 at sf0.1). On natural text rare grams exist and
    the prefix join stays near-linear; the dense-vocab case is the
    adversarial floor, where the capped/LSH near-dup family is the
    right tool. Strings shorter than q have no grams and are excluded.

    ``min_len`` is a caller-CERTIFIED lower bound on ``length(text)``
    (0 = no claim). When min_len > q*k + q - 1 the short band is empty
    by construction and its whole subplan (a second corpus scan, an
    explode and a self-join) is elided — ~15% of c82's wall on a corpus
    whose length filter (200..400 chars) makes the band impossible. The
    bound must be a property of the input (e.g. the pushed-down length
    predicate that BUILT the corpus), never a guess: an understated
    min_len only wastes the empty subplan; an OVERSTATED one silently
    drops both-short pairs.

    Output: (doc_a, doc_b, dist) with doc_a < doc_b, dist <= k.
    """
    from sheetsetl_spark.operators.skew import spread_by_key

    if k < 0 or q < 1:
        raise ValueError(f"need k >= 0 and q >= 1, got k={k}, q={q}")
    base = docs.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        F.length(text_col).alias("__len"),
    ).filter(F.col("__len") >= q)
    # occurrence-numbered q-grams: count each gram per doc, then explode
    # the occurrence sequence — one groupBy, no per-doc-gram window.
    # __len rides along in the group key (constant per doc) so the
    # length filter reaches candidate aggregation without a base join.
    # hash(__id) on the document rows satisfies the clustered
    # distribution of BOTH downstream groupBys — the occurrence count
    # keyed (__id, __len, gram) and the per-doc array fold keyed
    # (__id, __len) — and the df aggregate and the token stream hang off
    # the SAME occurrence-count subtree, so the gram generation runs once.
    grams = spread_by_key(base, ["__id"]).select(
        "__id",
        "__len",
        F.explode(
            F.expr(
                f"transform(sequence(1, __len - {q} + 1),"
                f" i -> substring(__text, i, {q}))"
            )
        ).alias("gram"),
    )
    toks = (
        grams.groupBy("__id", "__len", "gram")
        .agg(F.count("*").alias("occ_cnt"))
        .select(
            "__id",
            "__len",
            F.explode(F.expr("sequence(1, occ_cnt)")).alias("occ"),
            "gram",
        )
        .select(
            "__id",
            "__len",
            F.concat_ws("\x1f", "gram", F.col("occ").cast("string")).alias("tok"),
        )
    )
    qk = F.lit(q * k)
    cand, arrays = _rarity_prefix_candidates(
        toks,
        "__id",
        "tok",
        F.lit(q * k + 1),
        # positional bound against the count filter; both-short pairs
        # (grams <= q*k <=> len <= q*k + q - 1) are owned ENTIRELY by the
        # short band, so the two candidate streams are provably DISJOINT
        # and the union below needs no corpus-wide distinct shuffle
        bound=lambda ub, na, nb: (
            (ub >= F.greatest(na, nb) - qk) & ~((na <= qk) & (nb <= qk))
        ),
        carry=("__len",),
        pair_filter=F.abs(F.col("__len_a") - F.col("__len_b")) <= F.lit(k),
    )
    # SHORT-BAND completeness path: the count bound overlap >=
    # max(n_a, n_b) - q*k is vacuous when BOTH docs have <= q*k grams
    # (len <= q*k + q - 1) — such a pair can be within distance k while
    # sharing ZERO grams ("alpha alpha" vs "beta beta" at k=8), so the
    # gram join alone is incomplete there (the hypothesis brute-force
    # twin pins this case). Mixed short-long true pairs always share a
    # prefix gram (required overlap >= n_long - q*k > 0), so only the
    # both-short band needs candidates of its own: a length-bucketed
    # equi-join (bucket width k+1; emitting each side to {b, b+1} makes
    # every pair within the |len diff| <= k filter collide on some
    # key). The band is bounded by construction — strings shorter than
    # (k+1)*q chars — and its worst case (every ultra-short string
    # matching every other) is the TRUE output being quadratic, not an
    # algorithmic miss. The verify-stage count filter below is a no-op
    # for these pairs (RHS <= 0), so levenshtein alone decides them.
    if min_len <= q * k + q - 1:
        short = base.filter(F.col("__len") <= F.lit(q * k + q - 1)).select(
            "__id", "__len", F.floor(F.col("__len") / F.lit(k + 1)).alias("__bk")
        )
        sa = short.select(
            F.col("__id").alias("doc_a"),
            F.col("__len").alias("sla"),
            F.explode(F.array(F.col("__bk"), F.col("__bk") + 1)).alias("__key"),
        )
        sb = short.select(
            F.col("__id").alias("doc_b"),
            F.col("__len").alias("slb"),
            F.explode(F.array(F.col("__bk"), F.col("__bk") + 1)).alias("__key"),
        )
        short_cand = (
            sa.join(sb, "__key")
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                & (F.abs(F.col("sla") - F.col("slb")) <= F.lit(k))
            )
            .select("doc_a", "doc_b")
            # a pair can collide on both its shared bucket keys (b AND
            # b+1): dedupe WITHIN the band only — it is bounded by the
            # length cutoff, never corpus-sized
            .distinct()
        )
        cand = cand.unionByName(short_cand)
    side = base.join(arrays, "__id")
    arr_a, arr_b = (
        side.select(
            F.col("__id").alias(f"doc_{s}"),
            F.col("__toks").alias(f"g{s}"),
            F.col("__n").alias(f"n{s}"),
            F.col("__text").alias(f"t{s}"),
            F.col("__len").alias(f"l{s}"),
        )
        for s in "ab"
    )
    overlap = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    return (
        cand.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .filter(F.abs(F.col("la") - F.col("lb")) <= F.lit(k))
        .filter(overlap >= F.greatest("na", "nb") - F.lit(q * k))
        .withColumn("dist", F.levenshtein("ta", "tb"))
        .filter(F.col("dist") <= F.lit(k))
        .select("doc_a", "doc_b", F.col("dist").cast("long").alias("dist"))
    )


def substring_decontaminate(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_col: str = "probe",
    return_pairs: bool = False,
) -> DataFrame:
    """Substring-level decontamination: training documents that contain
    any eval probe VERBATIM (the strictest leak check — an exact answer
    string embedded in a training doc, the case n-gram-overlap
    decontamination (:func:`decontaminate`) can dilute when the probe is
    short relative to the doc).

    Scale asymmetry (same as decontaminate): eval probes are small by
    nature — benchmarks are thousands of strings, the corpus is the
    100 TB side. The probe set broadcasts; the corpus streams through a
    broadcast nested-loop `contains` filter with NO shuffle of the
    corpus at all, and the output is proportional to the contaminated
    set. For probe sets too big to broadcast, the right tool switches
    to :func:`decontaminate`'s shingle equi-join (anchoring each probe
    on its rarest shingle) — documented, not implemented here, because
    it changes the match semantics from verbatim to approximate.

    Output: (id, n_probes_hit, probe_ids) — one row per contaminated
    doc; probe_ids is the sorted comma-joined id list (a STRING, so the
    row hash-compares engine-portably). Self-hits (a probe extracted
    from the doc itself) are the caller's concern: pass probes carrying
    a source-doc column and pre-filter, or accept reflexive matches.
    """
    p = F.broadcast(
        probes.select(
            F.col(probe_id_col).alias("__pid"), F.col(probe_col).alias("__probe")
        )
    )
    hits = corpus.select(id_col, text_col).join(
        p, F.expr(f"contains({text_col}, __probe)")
    ).select(id_col, "__pid")
    return hits if return_pairs else _agg_probe_hits(hits, id_col)


def _agg_probe_hits(pairs: DataFrame, id_col: str) -> DataFrame:
    """(id, __pid) hit pairs -> (id, n_probes_hit, probe_ids).

    Shared final aggregate of the substring-decontamination family, so
    callers that UNION pair streams from several detector paths (the
    streaming ingest gate routes short probes through the broadcast
    path and long ones through the anchored path) aggregate once with
    identical semantics: pids sort in their NATIVE type before the
    string join — a lexicographic sort of pre-stringified pids would
    order 10 before 9 and break parity with the single-path output.
    """
    return pairs.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_probes_hit"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("__pid")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("probe_ids"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list[str],
    window: int = 4,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95 — the
    classic entity-resolution method): sort all records by a blocking
    key, then candidate-pair only records within ``window`` positions of
    each other. Complements the equi-blocking family (last-token blocks
    in :func:`fuzzy_name_pairs`, Fellegi-Sunter's agreement blocks):
    sorted neighborhoods catch near-misses that straddle block
    boundaries, because adjacency under the sort order IS the block.

    Distributed shape: the global rank comes from the prefix-sum
    decomposition (operators/prefix.py) — range-partitioned local ranks
    plus broadcast per-partition offsets — NEVER a single-partition
    window over the corpus. Pairing is rank arithmetic: each record
    explodes ``window - 1`` (rank + d) probes and equi-joins back on the
    rank, so the candidate stream is exactly (window-1) x |rows| rows —
    linear, skew-free (ranks are unique), and shuffled on an integer.

    ``sort_cols`` must end in a unique key (same contract as
    prefix_sum). Output: one row per candidate pair, with each side's
    ``payload_cols`` suffixed _a/_b plus the rank gap ``gap``.
    """
    from sheetsetl_spark.operators.prefix import prefix_sum

    payload = payload_cols or sort_cols
    ranked = prefix_sum(
        df.select(*dict.fromkeys([*sort_cols, *payload])),
        [F.col(c) for c in sort_cols],
        F.lit(1).cast("long"),
        out_col="__rank",
    )
    a = ranked.select(
        F.col("__rank"), *[F.col(c).alias(f"{c}_a") for c in payload]
    ).withColumn("__d", F.explode(F.expr(f"sequence(1, {window - 1})")))
    b = ranked.select(
        F.col("__rank").alias("__rank_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    return (
        a.withColumn("__rank_b", F.col("__rank") + F.col("__d"))
        .join(b, "__rank_b")
        .select(
            *[f"{c}_a" for c in payload],
            *[f"{c}_b" for c in payload],
            F.col("__d").cast("long").alias("gap"),
        )
    )


def substring_decontaminate_anchored(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_id_col: str = "probe_id",
    probe_col: str = "probe",
    return_pairs: bool = False,
) -> DataFrame:
    """Verbatim substring decontamination for probe sets TOO BIG TO
    BROADCAST — the scale path :func:`substring_decontaminate`'s
    docstring points to, made concrete.

    Anchoring theorem: if ``probe`` occurs verbatim (space-tokenized
    text) inside a doc, then every INTERIOR word of the probe — all but
    the first and last, which the char-level cut may have clipped —
    appears in the doc as a complete token, in sequence. So the probe's
    first interior word BIGRAM is a word bigram of the doc, and an
    equi-join on that anchor bigram finds every true containment.
    Probes with fewer than two interior words carry no anchor and are
    dropped (returned semantics cover the anchored subset; the caller
    routes short probes through the broadcast variant — they are few
    and cheap by definition).

    Shape at 100 TB: the exploded stream carries only ``(doc_id,
    anchor)`` — NOT the doc text. Carrying text through the explode
    replicated each doc once per distinct bigram, making shuffled bytes
    O(tokens_per_doc x doc_bytes) per doc (r7 advice); instead the
    anchor join yields candidate ``(doc_id, probe)`` pairs and the text
    is re-attached by a candidate-proportional equi-join on ``doc_id``
    before the ``contains`` verify — the same verify-stage shape as
    ``edit_distance_pairs``. The corpus is scanned twice (both scans
    linear, parquet-pruned); every shuffle is linear in ids + anchors
    or in candidates. A boilerplate anchor is exactly the hot-key case
    ``max_anchor_df``-style capping would handle (not needed at fixture
    scale; the verify is already candidate-proportional).

    Output: identical schema/semantics to
    :func:`substring_decontaminate` restricted to anchored probes —
    (id, n_probes_hit, probe_ids).
    """
    p = probes.select(
        F.col(probe_id_col).alias("__pid"),
        F.col(probe_col).alias("__probe"),
        F.split(F.col(probe_col), " ").alias("__pw"),
    ).filter(F.size("__pw") >= 4)
    anchored = p.select(
        "__pid",
        "__probe",
        F.concat_ws(
            " ", F.element_at("__pw", 2), F.element_at("__pw", 3)
        ).alias("__anchor"),
    )
    doc_bigrams = corpus.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    ).select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN size(__w) >= 2 THEN "
                    "transform(sequence(1, size(__w) - 1), "
                    "  i -> concat_ws(' ', __w[i-1], __w[i])) "
                    "ELSE array() END"
                )
            )
        ).alias("__anchor"),
    )
    # (doc, probe) pairs are unique by construction: the doc side emits
    # each distinct bigram once and each probe has exactly one anchor —
    # no distinct() needed, so the only shuffles are the anchor join,
    # the doc_id text re-attach, and the final per-doc aggregate.
    candidates = doc_bigrams.join(anchored, "__anchor").select(id_col, "__pid", "__probe")
    hits = (
        candidates.join(corpus.select(id_col, text_col), id_col)
        .filter(F.expr(f"contains({text_col}, __probe)"))
        .select(id_col, "__pid")
    )
    return hits if return_pairs else _agg_probe_hits(hits, id_col)
