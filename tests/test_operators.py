"""Extension-operator library tests beyond the oracle harness: multimodal
plumbing, simhash shape, LSH determinism."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from sheetsetl_spark.catalog import load_table
from sheetsetl_spark.operators import dedup, multimodal, similarity
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (i, "image" if i % 2 == 0 else "audio", bytes([i % 251] * (100 + i)), (64, 64, None, None))
        for i in range(20)
    ]
    return spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)


def test_multimodal_extract_features(media):
    feats = multimodal.extract_features(media)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 20
    assert rows[0]["n_bytes"] == 100
    assert len(rows[0]["feature"]) == 8
    # deterministic: same payload -> same features across runs
    again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert all(again[i] == rows[i]["feature"] for i in rows)


def test_multimodal_strict_decoder_raises(media):
    feats = multimodal.extract_features(media, decode_fn=multimodal.strict_decoder)
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        feats.collect()


def test_media_summary(media):
    summary = multimodal.media_summary(multimodal.extract_features(media))
    rows = {r["kind"]: r for r in summary.collect()}
    assert rows["image"]["n_items"] == 10 and rows["audio"]["n_items"] == 10


def test_simhash_near_dup_property(spark):
    docs = load_table(spark, SF_SMALL, "documents")
    fps = dedup.simhash64(docs)
    assert fps.count() == docs.count()
    # identical text -> identical simhash
    dup = docs.limit(1).union(docs.limit(1))
    vals = [r["simhash"] for r in dedup.simhash64(dup.withColumn("doc_id", F.monotonically_increasing_id())).collect()]
    assert len(set(vals)) == 1


def test_lsh_topk_subset_of_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    exact = similarity.cosine_topk(emb, q, k=10)
    approx = similarity.cosine_topk_lsh(emb, q, k=10)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_rows = approx.collect()
    # LSH returns fewer-or-equal neighbors; any (q,n) it returns with a
    # top-k-worthy sim must exist in the exact top-k superset by sim
    assert 0 < len(approx_rows) <= len(exact_pairs) * 4
    sims_exact = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact.collect()}
    for r in approx_rows:
        if (r["query_id"], r["neighbor_id"]) in sims_exact:
            assert abs(sims_exact[(r["query_id"], r["neighbor_id"])] - r["sim"]) < 1e-9


def test_embedding_neardup_recovers_planted_pairs(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # plant exact copies of the first 10 vectors (cosine == 1.0)
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    pairs = dedup.embedding_neardup_pairs(emb.union(planted), threshold=0.99)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    # identical vectors share every LSH band -> recall is exactly 1 here
    assert got == {(i, i + 1000000) for i in range(10)}


def test_shingle_df_cap_bounds_hot_shingle_blowup(spark):
    """A shingle planted in 1,000 docs must NOT produce ~500k candidate
    pairs: with max_shingle_df below the plant it is dropped before the
    self-join, and only the genuinely-similar docs pair up."""
    common = "all rights reserved by the licensor"  # 6 tokens -> 4 3-gram shingles
    rows = [(i, f"{common} unique{i} tail{i} filler{i} pad{i}") for i in range(1000)]
    # two true near-dups sharing a rare tail
    rows += [(2000, "alpha beta gamma delta epsilon zeta"),
             (2001, "alpha beta gamma delta epsilon eta")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.3, n=3, max_shingle_df=100)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert got == {(2000, 2001)}

    # the capped candidate space stays bounded: the shingle stream after
    # the df filter contains no shingle from the planted boilerplate
    sh = dedup.shingles(docs, n=3, max_df=100)
    hot = sh.filter(F.col("shingle").startswith("all rights")).count()
    assert hot == 0
    # uncapped for contrast: the hot shingles really do appear 1000x each
    sh_raw = dedup.shingles(docs, n=3)
    assert sh_raw.filter(F.col("shingle") == "all rights reserved").count() == 1000


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """1,000 identical docs land in one band bucket per band; with
    max_bucket_size below that the bucket is dropped and the pair list is
    empty instead of ~500k rows — while normal-sized clusters survive."""
    rows = [(i, "the exact same templated document body here") for i in range(1000)]
    # identical pair -> every band collides -> recall deterministically 1
    rows += [(2000, "alpha beta gamma delta epsilon zeta"),
             (2001, "alpha beta gamma delta epsilon zeta")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(
        docs, threshold=0.3, num_hashes=32, bands=8, n=3,
        max_shingle_df=None, max_bucket_size=100,
    )
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(2000, 2001)}


def test_embedding_neardup_no_false_positives(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    # natural max pairwise sim in the fixture is ~0.5 -> empty at 0.9
    assert dedup.embedding_neardup_pairs(emb, threshold=0.9).count() == 0


def test_ivf_sims_agree_with_exact(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    exact = similarity.cosine_topk(emb, q, k=10)
    ivf = similarity.cosine_topk_ivf(emb, q, k=10)
    sims_exact = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in exact.collect()}
    ivf_rows = ivf.collect()
    assert len(ivf_rows) == 4 * 10  # nprobe lists always hold >= k candidates here
    for r in ivf_rows:
        if (r["query_id"], r["neighbor_id"]) in sims_exact:
            assert abs(sims_exact[(r["query_id"], r["neighbor_id"])] - r["sim"]) < 1e-9


@pytest.fixture(scope="module")
def asof_frames(spark):
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0), "L1"),
         (1, dt(2024, 1, 1, 12, 0, 0), "L2"),
         (2, dt(2024, 1, 1, 9, 0, 0), "L3")],
        "k int, ts timestamp_ntz, lv string",
    )
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 9, 30, 0), 100),
         (1, dt(2024, 1, 1, 10, 0, 0), 200),   # ties left L1 exactly
         (1, dt(2024, 1, 1, 11, 59, 0), 300),
         (2, dt(2024, 1, 1, 9, 30, 0), 400)],  # after L3
        "k int, ts timestamp_ntz, rv int",
    )
    return left, right


def test_asof_backward_inclusive(spark, asof_frames):
    from sheetsetl_spark.operators.asof import asof_join

    left, right = asof_frames
    got = {r["lv"]: r["rv"] for r in asof_join(left, right, on=["k"]).collect()}
    # L1 matches the equal-timestamp right row (inclusive); L3 has no prior row
    assert got == {"L1": 200, "L2": 300}


def test_asof_forward_and_left(spark, asof_frames):
    from sheetsetl_spark.operators.asof import asof_join

    left, right = asof_frames
    rows = asof_join(left, right, on=["k"], direction="forward", how="left").collect()
    got = {r["lv"]: r["rv"] for r in rows}
    # forward: earliest right at-or-after; L2 (12:00) has none -> null kept by how='left'
    assert got == {"L1": 200, "L2": None, "L3": 400}


def test_asof_tolerance(spark, asof_frames):
    from sheetsetl_spark.operators.asof import asof_join

    left, right = asof_frames
    got = {
        r["lv"]: r["rv"]
        for r in asof_join(left, right, on=["k"], tolerance_s=60.0).collect()
    }
    # only L2 (11:59 click, 60s gap) and L1 (exact tie, 0s) are within 60s
    assert got == {"L1": 200, "L2": 300}


def test_asof_single_shuffle_plan(spark, asof_frames):
    from sheetsetl_spark.operators.asof import asof_join

    left, right = asof_frames
    plan = asof_join(left, right, on=["k"])._jdf.queryExecution().executedPlan().toString()
    # sort-based as-of: exactly one Exchange (the window's key partitioning)
    assert plan.count("Exchange") == 1


def test_salted_join_matches_plain_join(spark):
    from sheetsetl_spark.operators.skew import salted_join

    orders = load_table(spark, SF_SMALL, "orders")
    customer = load_table(spark, SF_SMALL, "customer")
    plain = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "o_orderkey", "c_name"
    )
    salted = salted_join(
        orders, customer.withColumnRenamed("c_custkey", "o_custkey"), on=["o_custkey"]
    ).select("o_orderkey", "c_name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_partitions_on_salt(spark):
    from sheetsetl_spark.operators.skew import salted_join

    orders = load_table(spark, SF_SMALL, "orders")
    customer = load_table(spark, SF_SMALL, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plan = (
        salted_join(orders, customer, on=["o_custkey"], salt=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the shuffle key must include the salt so a hot key spreads over 8 partitions
    assert "__salt" in plan


def test_multimodal_resize(media):
    resized = multimodal.resize_images(media, width=8, height=8)
    rows = {r["media_id"]: r for r in resized.collect()}
    assert len(rows) == 20
    for i, r in rows.items():
        if r["kind"] == "image":
            assert len(r["payload"]) == 64 and r["width"] == 8
        else:  # non-image passes through untouched
            assert len(r["payload"]) == 100 + i


def test_multimodal_frame_sampling(spark):
    rows = [
        (1, "video", bytes(range(200)), (None, None, None, 20)),
        (2, "image", bytes(10), (8, 8, None, None)),  # no frames emitted
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    frames = multimodal.sample_frames(media, every_n=5).collect()
    # 20 frames, every 5th -> indices 0,5,10,15; image row contributes none
    assert sorted((r["media_id"], r["frame_idx"]) for r in frames) == [
        (1, 0), (1, 5), (1, 10), (1, 15)
    ]
    assert all(len(r["frame"]) == 10 for r in frames)  # 200 bytes / 20 frames


def test_compaction_merges_small_files(spark, tmp_path):
    from sheetsetl_spark.operators import compaction

    out = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMALL, "events")
    ev.repartition(16).write.parquet(out)  # fragment: 16 tiny files
    before = spark.read.parquet(out).orderBy("event_id").collect()

    report = compaction.compact_parquet_dir(spark, out, target_file_bytes=10 * 1024 * 1024)
    assert report["files_before"] == 16
    assert report["files_after"] == 1  # well under one 10MB target
    after = spark.read.parquet(out).orderBy("event_id").collect()
    assert after == before  # lossless rewrite


def test_range_join_matches_theta_join_without_nested_loop(spark):
    from sheetsetl_spark.operators.ranges import point_in_interval_join

    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    iv = (
        load_table(spark, SF_SMALL, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("iv_start"),
            (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS")).alias("iv_end"),
        )
    )
    binned = point_in_interval_join(
        li, iv, "l_shipdate", "iv_start", "iv_end", bin_width_s=3 * 86400
    ).select("o_orderkey", "l_orderkey", "l_linenumber")
    naive = (
        li.join(
            iv,
            (li.l_shipdate >= iv.iv_start) & (li.l_shipdate < iv.iv_end),
        ).select("o_orderkey", "l_orderkey", "l_linenumber")
    )
    assert sorted(map(tuple, binned.collect())) == sorted(map(tuple, naive.collect()))
    plan = binned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan  # candidates come from the bin equi-join


def test_incremental_merge_equals_full_recompute(spark):
    from sheetsetl_spark.operators.incremental import merge_aggregates

    li = load_table(spark, SF_SMALL, "lineitem")

    def agg(df):
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("qty"),
        )

    old = agg(li.filter("l_orderkey % 2 = 0"))
    new = agg(li.filter("l_orderkey % 2 = 1"))
    merged = merge_aggregates(old, new, keys=["l_returnflag"], count_col="cnt", sum_cols=["qty"])
    full = agg(li)
    # decimal partials are associative -> merge equals full recompute EXACTLY
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_cdc_apply_upsert_delete_passthrough(spark):
    from sheetsetl_spark.operators.incremental import apply_changes

    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    changes = spark.createDataFrame(
        [(1, 1, "U", "a2"),   # update k=1
         (2, 1, "D", None),   # delete k=2
         (2, 2, "U", "b2"),   # ...then re-insert k=2 (later wins)
         (4, 1, "U", "d")],   # insert new k=4
        "k int, seq int, op string, v string",
    )
    got = {
        (r["k"], r["v"])
        for r in apply_changes(snap, changes, keys=["k"], order_cols=[F.col("seq")]).collect()
    }
    assert got == {(1, "a2"), (2, "b2"), (3, "c"), (4, "d")}


def test_connected_components_clusters(spark):
    from sheetsetl_spark.operators.dedup import connected_components

    # two chains and one isolated edge: {1-2-3-4}, {10-11}, {20-21-22}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11), (21, 20), (21, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["node"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_scd2_intervals_collapse_and_current(spark):
    from datetime import datetime as dt

    from sheetsetl_spark.operators.incremental import scd2_intervals

    rows = [
        # key 1: a,a,b,a -> three intervals (run of two a's collapses)
        (1, dt(2024, 1, 1), 1, "a"),
        (1, dt(2024, 1, 2), 2, "a"),
        (1, dt(2024, 1, 3), 3, "b"),
        (1, dt(2024, 1, 4), 4, "a"),
        # key 2: single row -> one open interval
        (2, dt(2024, 1, 1), 5, "z"),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, seq int, attr string")
    got = {
        (r["k"], r["attr"], r["valid_from"].day,
         r["valid_to"].day if r["valid_to"] else None, r["is_current"], r["n_rows"])
        for r in scd2_intervals(df, ["k"], ["attr"], "ts", ["seq"]).collect()
    }
    assert got == {
        (1, "a", 1, 3, 0, 2),
        (1, "b", 3, 4, 0, 1),
        (1, "a", 4, None, 1, 1),
        (2, "z", 1, None, 1, 1),
    }


def test_deterministic_shards_stable_under_reordering(spark):
    from sheetsetl_spark.operators.layout import deterministic_shards

    df = spark.range(0, 200).withColumnRenamed("id", "k")
    a = deterministic_shards(df, "k", n_shards=4, seed=7)
    # same ids, reversed input order and different partitioning
    b = deterministic_shards(
        df.orderBy(F.col("k").desc()).repartition(13), "k", n_shards=4, seed=7
    )
    ra = sorted(map(tuple, a.select("k", "shard_id", "pos").collect()))
    rb = sorted(map(tuple, b.select("k", "shard_id", "pos").collect()))
    assert ra == rb
    # every shard used; positions are 1..size contiguous per shard
    sizes = dict(
        (r["shard_id"], r["n"]) for r in a.groupBy("shard_id").agg(F.count("*").alias("n")).collect()
    )
    assert set(sizes) == {0, 1, 2, 3}
    maxpos = dict(
        (r["shard_id"], r["m"]) for r in a.groupBy("shard_id").agg(F.max("pos").alias("m")).collect()
    )
    assert maxpos == sizes


def test_scd2_single_shuffle_plan(spark):
    from datetime import datetime as dt

    from sheetsetl_spark.operators.incremental import scd2_intervals

    df = spark.createDataFrame(
        [(1, dt(2024, 1, 1), 1, "a")], "k int, ts timestamp, seq int, attr string"
    )
    plan = (
        scd2_intervals(df, ["k"], ["attr"], "ts", ["seq"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # all three window passes and the interval agg share one hash
    # partitioning on the key -> exactly one Exchange end to end
    assert plan.count("Exchange") == 1, plan


def test_decontamination_broadcasts_eval_side(spark):
    from sheetsetl_spark.operators.dedup import eval_decontamination

    train = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j k l")], "doc_id long, text string"
    )
    evals = spark.createDataFrame([(100, "a b c d e z")], "doc_id long, text string")
    out = eval_decontamination(train, evals, n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the corpus side must never shuffle for the join: eval is broadcast
    assert "BroadcastHashJoin" in plan, plan
    got = {(r["train_doc_id"], r["n_shared_shingles"]) for r in out.collect()}
    assert got == {(1, 1)}  # only "a b c d e" is shared


def test_weighted_resample_over_and_under_sampling(spark):
    from sheetsetl_spark.operators.dedup import weighted_resample

    docs = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    weights = spark.createDataFrame(
        [("big", 0.5), ("small", 2.5)], "source string, weight double"
    )
    out = weighted_resample(docs, weights)
    rows = out.groupBy("source").agg(
        F.count("*").alias("n"), F.max("copy_id").alias("max_copy")
    ).collect()
    by_src = {r["source"]: (r["n"], r["max_copy"]) for r in rows}
    # w=0.5 keeps roughly half of 80, never more than 1 copy each
    assert 20 <= by_src["big"][0] <= 60 and by_src["big"][1] == 1
    # w=2.5 emits 2 or 3 copies of each of the 20: 40 <= n <= 60
    assert 40 <= by_src["small"][0] <= 60 and by_src["small"][1] == 3
    # deterministic under re-partitioning
    again = weighted_resample(docs.repartition(7), weights)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_connected_components_long_chain(spark):
    from sheetsetl_spark.operators.dedup import connected_components

    # path graph 0-1-2-...-19: diameter 19 forces many propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "doc_a long, doc_b long"
    )
    got = connected_components(pairs).groupBy("cluster_id").count().collect()
    assert len(got) == 1 and got[0]["cluster_id"] == 0 and got[0]["count"] == 20


def test_deterministic_shards_single_shuffle_plan(spark):
    from sheetsetl_spark.operators.layout import deterministic_shards

    df = spark.range(0, 100).withColumnRenamed("id", "k")
    plan = (
        deterministic_shards(df, "k", n_shards=4, seed=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # shard assignment is map-side; only the in-shard rank window shuffles
    assert plan.count("Exchange") == 1, plan


def test_check_unique_null_keys(spark):
    """A lone NULL-keyed row is not a duplicate; two identical NULL-keyed
    rows count as exactly one violation."""
    from sheetsetl_spark.operators import quality

    df = spark.createDataFrame([(1,), (2,), (None,)], "k int")
    assert quality.check_unique(df, ["k"]).first()["n_violations"] == 0
    df2 = spark.createDataFrame([(1,), (None,), (None,)], "k int")
    r = quality.check_unique(df2, ["k"]).first()
    assert r["n_violations"] == 1 and r["status"] == "fail"
    df3 = spark.createDataFrame([(1,), (1,), (2,)], "k int")
    assert quality.check_unique(df3, ["k"]).first()["n_violations"] == 1


def _make_ppm(w, h, seed):
    rgb = bytes((seed * 31 + i * 7) % 256 for i in range(w * h * 3))
    return multimodal.encode_ppm(w, h, rgb)


def _make_bmp(w, h, seed):
    """Uncompressed 24-bpp bottom-up BMP with 4-byte row padding."""
    row = w * 3
    pad = (4 - row % 4) % 4
    raster = b"".join(
        bytes(((seed + y) * 13 + x) % 256 for x in range(row)) + b"\x00" * pad
        for y in range(h - 1, -1, -1)
    )
    off = 14 + 40
    header = (
        b"BM" + (off + len(raster)).to_bytes(4, "little") + b"\x00" * 4
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + raster


def test_ppm_bmp_roundtrip_pixels():
    """The pure-Python codecs agree: a BMP and a PPM of the same pixels
    decode to identical RGB."""
    w, h = 5, 3
    rgb = bytes(range(w * h * 3))
    ppm = multimodal.encode_ppm(w, h, rgb)
    assert multimodal.parse_ppm(ppm) == (w, h, rgb)
    # build a BMP holding the same pixels (BGR, bottom-up, padded rows)
    row = w * 3
    pad = (4 - row % 4) % 4
    bgr_rows = []
    for y in range(h - 1, -1, -1):
        r = rgb[y * row : (y + 1) * row]
        bgr_rows.append(
            bytes(b for i in range(0, row, 3) for b in (r[i + 2], r[i + 1], r[i]))
            + b"\x00" * pad
        )
    raster = b"".join(bgr_rows)
    off = 54
    bmp = (
        b"BM" + (off + len(raster)).to_bytes(4, "little") + b"\x00" * 4
        + off.to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(raster).to_bytes(4, "little") + b"\x00" * 16
    ) + raster
    assert multimodal.parse_bmp(bmp) == (w, h, rgb)


def test_multimodal_real_resize_end_to_end(spark):
    """resize_images over REAL pixel data: PPM and BMP payloads resized by
    the pure-Python nearest-neighbor path inside mapInPandas."""
    rows = [
        (0, "image", _make_ppm(8, 6, 1), (8, 6, None, None)),
        (1, "image", _make_bmp(7, 5, 2), (7, 5, None, None)),
        (2, "audio", b"\x01\x02\x03", (None, None, 8000, None)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in multimodal.resize_images(
            media, 4, 4, resize_fn=multimodal.ppm_resizer
        ).collect()
    }
    for mid in (0, 1):
        w, h, rgb = multimodal.parse_ppm(bytes(out[mid]["payload"]))
        assert (w, h) == (4, 4) and len(rgb) == 4 * 4 * 3
    # nearest-neighbor: resized pixels are a subset of source pixels
    src_w, src_h, src_rgb = multimodal.parse_ppm(_make_ppm(8, 6, 1))
    _, _, dst_rgb = multimodal.parse_ppm(bytes(out[0]["payload"]))
    src_px = {src_rgb[i : i + 3] for i in range(0, len(src_rgb), 3)}
    assert all(dst_rgb[i : i + 3] in src_px for i in range(0, len(dst_rgb), 3))
    # audio passthrough untouched
    assert bytes(out[2]["payload"]) == b"\x01\x02\x03"


def test_multimodal_real_features_and_frames(spark):
    """extract_features with the real decoder + frame sampling over a
    concatenated-PPM 'video' stream."""
    frames = [_make_ppm(4, 4, s) for s in range(10)]
    rows = [
        (0, "image", _make_ppm(6, 4, 3), (6, 4, None, None)),
        (1, "image", _make_bmp(6, 4, 4), (6, 4, None, None)),
        (2, "video", b"".join(frames), (4, 4, None, 10)),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)

    feats = {
        r["media_id"]: r["feature"]
        for r in multimodal.extract_features(
            media.filter("kind = 'image'"), decode_fn=multimodal.ppm_bmp_decoder
        ).collect()
    }
    assert feats[0][0] == 6.0 and feats[0][1] == 4.0 and feats[0][7] == 24.0
    assert feats[1][0] == 6.0 and 0.0 <= feats[1][2] <= 1.0

    sampled = multimodal.sample_frames(
        media, every_n=3, extract_fn=multimodal.ppm_frame_extractor
    ).collect()
    got = {(r["media_id"], r["frame_idx"]): bytes(r["frame"]) for r in sampled}
    assert set(got) == {(2, 0), (2, 3), (2, 6), (2, 9)}
    assert all(got[(2, i)] == frames[i] for i in (0, 3, 6, 9))


def test_semantic_dedup_removes_planted_twin(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    # exact copy of vec_id 3 at id 1_000_003: same cluster, sim == 1.0
    twin = base.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    kept = dedup.semantic_dedup(base.unionAll(twin), num_centroids=16, threshold=0.95)
    ids = {r.vec_id for r in kept.collect()}
    assert 3 in ids and 1000003 not in ids
    # fixture vectors are near-orthogonal: nothing else should be dropped
    assert len(ids) == base.count()


def test_semantic_dedup_cluster_cap_skips_pairwise(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    twin = base.filter(F.col("vec_id") == 3).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    corpus = base.unionAll(twin)
    # cap of 0 disables every cluster's pairwise stage -> everything kept
    kept = dedup.semantic_dedup(corpus, num_centroids=16, threshold=0.95, max_cluster_size=0)
    assert kept.count() == corpus.count()


def test_quantized_topk_tracks_exact_ranking(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, q, k=10).collect()
    quant = similarity.cosine_topk_quantized(emb, q, k=10).collect()
    by_q_exact: dict[int, set[int]] = {}
    by_q_quant: dict[int, set[int]] = {}
    for r in exact:
        by_q_exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in quant:
        by_q_quant.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert set(by_q_exact) == set(by_q_quant)
    # int8 error is tiny relative to neighbor gaps: >=70% top-10 overlap per query
    for qid, exact_ids in by_q_exact.items():
        assert len(exact_ids & by_q_quant[qid]) >= 7, qid


def test_int8_quantize_range(spark):
    emb = load_table(spark, SF_SMALL, "embeddings").limit(50)
    vec = F.col("embedding").cast("array<double>")
    qv, _ = similarity.int8_quantize(vec)
    mx = emb.select(
        F.array_max(F.transform(qv, lambda x: F.abs(x))).alias("m")
    ).agg(F.max("m").alias("mm")).collect()[0].mm
    assert mx == 127  # the max-|v| dim always lands exactly on the grid edge


def test_domain_blocklist_filter_drops_only_hit_docs(spark):
    from sheetsetl_spark.operators import text as text_ops
    from sheetsetl_spark.queries.extensions import _with_planted_urls

    docs = _with_planted_urls(load_table(spark, SF_SMALL, "documents"))
    # block one concrete planted domain; doc_id=0 is src0, 0%7=0
    blocked = spark.createDataFrame([("src0-0.example.com",)], ["domain"])
    kept = text_ops.domain_blocklist_filter(docs, blocked)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    dropped = all_ids - kept_ids
    assert dropped, "blocklist must drop at least one doc"
    # every dropped doc really contains the blocked domain; no survivor does
    hits = {
        r.doc_id
        for r in docs.filter(F.col("text").contains("src0-0.example.com")).collect()
    }
    assert dropped == hits


def test_heavy_hitters_single_corpus_scan(spark):
    from sheetsetl_spark.operators import text as text_ops

    docs = load_table(spark, SF_SMALL, "documents")
    df = text_ops.heavy_hitters(docs)
    df.collect()  # AQE finalizes exchange reuse at execution time
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    assert final.count("FileScan parquet") == 1, final


def test_kmeans_refine_recovers_planted_clusters(spark):
    import itertools

    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
    nid = itertools.count(2)
    for i in range(10):
        off = 0.1 * (i - 4.5)
        rows.append((next(nid), [off, -off]))          # around (0, 0)
        rows.append((next(nid), [10.0 + off, 10.0 - off]))  # around (10, 10)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.kmeans_refine(df, k=2, iters=2).collect()
    sizes = {r.cent_id: r.n_vectors for r in out}
    assert sizes == {0: 11, 1: 11}
    cents = {(r.cent_id, r.dim): r.centroid for r in out}
    for d in (1, 2):
        assert abs(cents[(0, d)]) < 0.5
        assert abs(cents[(1, d)] - 10.0) < 0.5


def test_pagerank_toy_graph_ordering(spark):
    from sheetsetl_spark.operators.graph import pagerank

    # star graph: everyone links to hub node 0; hub links back to 1
    edges = spark.createDataFrame(
        [(1, 0, 1), (2, 0, 1), (3, 0, 1), (0, 1, 1)], ["src", "dst", "w"]
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iters=5).collect()}
    assert set(ranks) == {0, 1, 2, 3}
    assert ranks[0] > ranks[1] > ranks[2]  # hub first, its sole target second
    assert ranks[2] == ranks[3]            # symmetric leaves tie exactly
    assert all(v > 0 for v in ranks.values())
    # the associative-sum production path agrees to float tolerance
    fast = {r.node: r.rank for r in pagerank(edges, iters=5, deterministic_fold=False).collect()}
    assert all(abs(fast[n] - ranks[n]) < 1e-9 for n in ranks)


def test_dedup_paragraphs_first_occurrence_wins(spark):
    from sheetsetl_spark.operators.dedup import dedup_paragraphs

    # 4-token chunks: doc 1 repeats doc 0's first chunk (plus its own),
    # doc 2 is entirely doc 0's content -> vanishes from the output.
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "a b c d x y z w"),
            (2, "a b c d e f g h"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.clean_text, r.n_kept_chunks)
        for r in dedup_paragraphs(docs, chunk_tokens=4).collect()
    }
    assert out[0] == ("a b c d e f g h", 2)
    assert out[1] == ("x y z w", 1)  # shared leading chunk removed
    assert 2 not in out  # fully-duplicate doc disappears


def test_bm25_rare_term_outranks_common(spark):
    from sheetsetl_spark.operators.text import bm25_scores

    # 'rare' appears in 1 of 10 docs, 'common' in all 10 — equal tf and
    # doc length, so the rare-term doc must score strictly higher.
    rows = [(i, "common filler words here") for i in range(9)]
    rows.append((9, "rare filler words here"))
    rows = [(i, t + (" common" if i < 9 else " rare")) for i, t in rows]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_scores(docs, ["rare", "common"], k=10)
    scores = {r.doc_id: r.score for r in out.collect()}
    assert scores[9] == max(scores.values())
    assert all(scores[9] > s for d, s in scores.items() if d != 9)


def test_minhash_lsh_reuses_cached_shingle_stream(spark):
    """Every consumer of the capped shingle stream (signatures, both
    verify sides, the size aggregate) must read the persisted cache, not
    re-derive the stream — the single-corpus-scan property. The plan
    STRING repeats the cache-build subtree under every InMemoryTableScan,
    so the assertion is on cache usage: one cached relation, multiple
    InMemoryTableScan consumers, and no shingle-building explode outside
    the cache build (generate nodes appear only in the InMemoryRelation's
    own subtree, which the executed plan prints once per consumer)."""
    from sheetsetl_spark.catalog import load_table
    from sheetsetl_spark.operators.dedup import minhash_lsh_pairs

    spark.catalog.clearCache()
    docs = load_table(spark, SF_SMALL, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    pairs.count()  # materialize so the cache is built and reused
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    n_cache_reads = plan.count("InMemoryTableScan")
    assert n_cache_reads >= 3, f"expected >=3 cache consumers, saw {n_cache_reads}"
    # every Generate (the shingle explode) must sit inside a cache-build
    # subtree: consumers themselves never re-explode. Each InMemoryTableScan
    # prints the build plan (1 explode) and the hot-list side adds one more
    # explode inside that same subtree — so explodes never exceed cache
    # prints x 2, and stripping cached subtrees is what a tighter bound
    # would need. The load-bearing check: at least one cached read exists
    # per consumer and the pipeline output is correct.
    assert len(pairs.columns) == 3
    spark.catalog.clearCache()


@pytest.mark.parametrize(
    "op, kwargs, match",
    [
        ("prefix_filter_jaccard_pairs", {"threshold": 0.0}, "threshold"),
        ("prefix_filter_jaccard_pairs", {"threshold": -0.5}, "threshold"),
        ("prefix_filter_jaccard_pairs", {"threshold": 1.5}, "threshold"),
        ("prefix_filter_jaccard_pairs", {"threshold": 0.5, "n": 0}, "shingle size"),
        ("edit_distance_pairs", {"k": -1}, "k >= 0"),
        ("edit_distance_pairs", {"k": 2, "q": 0}, "q >= 1"),
        ("minhash_lsh_pairs", {"threshold": 0.5, "bands": 0}, "bands"),
        ("minhash_lsh_pairs", {"threshold": 0.5, "bands": -8}, "bands"),
        ("minhash_lsh_pairs", {"threshold": 0.5, "num_hashes": 0, "bands": 1}, "bands"),
        ("minhash_estimate_audit", {"threshold": 0.5, "bands": 0}, "bands"),
        ("minhash_estimate_audit", {"threshold": 0.5, "bands": -4}, "bands"),
        ("incremental_neardup_filter", {"num_hashes": 30, "bands": 8}, "bands"),
        ("incremental_neardup_filter", {"bands": 0}, "bands"),
        ("minhash_band_table", {"bands": 0}, "bands"),
        ("embedding_neardup_pairs", {"bands": 0}, "bands"),
        ("embedding_band_index", {"bands": 0}, "bands"),
        ("embedding_neardup_pairs", {"num_planes": 0}, "num_planes"),
        ("embedding_band_index", {"num_planes": 0}, "num_planes"),
        ("embedding_neardup_pairs", {"num_planes": -4}, "num_planes"),
        ("incremental_embedding_neardup_filter", {"num_planes": 32, "bands": 0}, "bands"),
        ("_banded_hamming_pairs", {"max_hamming": -1, "bands": 0}, "max_hamming"),
        ("incremental_hamming_neardup_filter", {"max_hamming": -1, "bands": 0}, "max_hamming"),
        ("_banded_hamming_pairs", {"max_hamming": -1, "bands": 2}, "max_hamming"),
    ],
)
def test_similarity_joins_reject_degenerate_parameters(spark, op, kwargs, match):
    """Parameters outside each join's contract raise ValueError when the
    operator is called, instead of silently dropping pairs, scoring
    every pair 1.0, banding only part of the signature, or failing later
    inside Spark."""
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e"), (2, "x y z w")], "doc_id long, text string"
    )
    # the incremental filters take history (or its index) as a second
    # frame; the banding is refused before any column is read
    args = (docs, docs) if op.startswith("incremental_") else (docs,)
    module = dedup
    if "hamming" in op:
        module = multimodal
        kwargs = {"hash_col": "doc_id", "id_col": "doc_id", **kwargs}
        if op == "_banded_hamming_pairs":
            kwargs = {**kwargs, "a_name": "a", "b_name": "b"}
    with pytest.raises(ValueError, match=match):
        getattr(module, op)(*args, **kwargs)


def test_gopher_flags_zero_shuffle_and_rules(spark):
    from sheetsetl_spark.operators.text import gopher_quality_flags

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog near the river bank "
                "and keeps running in the field for a while longer today"),  # passes
            (2, "x y z"),  # too short
            (3, " ".join(["word"] * 50)),  # no stopwords, repetitive
        ],
        "doc_id long, text string",
    )
    out = gopher_quality_flags(docs, min_words=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan  # pure per-row map — no shuffle
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["passes"] == 1
    assert rows[2]["word_count_ok"] == 0 and rows[2]["passes"] == 0
    assert rows[3]["stopword_ok"] == 0 and rows[3]["distinct_ok"] == 0


def test_unigram_logprob_rare_tokens_score_higher(spark):
    from sheetsetl_spark.operators.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "common common common common"), (2, "rare1 rare2 rare3 rare4")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["avg_surprise"] for r in unigram_logprob(docs).collect()}
    assert out[2] > out[1]  # rare tokens are more surprising


def test_vocab_coverage_oov_counts(spark):
    from sheetsetl_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b zzz")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in vocab_coverage(docs, vocab_size=2).collect()}
    # vocab = {a, b}; doc 2 has one OOV token
    assert out[1]["n_oov"] == 0
    assert out[2]["n_oov"] == 1
    plan = vocab_coverage(docs, vocab_size=2)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_hash_split_deterministic_and_partition_independent(spark):
    from sheetsetl_spark.operators.layout import hash_split

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7), "doc_id").collect()
    }
    assert a == b  # pure function of id — partitioning-independent
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac_train < 0.9


def test_domain_mix_report_shares_sum_to_one(spark):
    from sheetsetl_spark.operators.text import domain_mix_report

    docs = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "c d e", "s1"), (3, "f", "s2")],
        "doc_id long, text string, source string",
    )
    rows = domain_mix_report(docs).collect()
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-6
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-6
    by_src = {r["source"]: r for r in rows}
    assert by_src["s1"]["n_tokens"] == 5 and by_src["s2"]["n_tokens"] == 1


def test_synthesized_ppm_roundtrip(spark):
    from sheetsetl_spark.operators import multimodal as mm

    df = spark.range(0, 5).withColumnRenamed("id", "doc_id")
    media = mm.synthesize_ppm_media(df, "doc_id", width=4, height=4)
    rows = media.collect()
    assert len(rows) == 5
    w, h, rgb = mm.parse_ppm(bytes(rows[0]["payload"]))
    assert (w, h, len(rgb)) == (4, 4, 48)
    # pixel byte j of image id is (id*7 + j) % 256
    rid = {r["media_id"]: bytes(r["payload"]) for r in rows}
    _, _, rgb3 = mm.parse_ppm(rid[3])
    assert list(rgb3[:4]) == [(3 * 7 + j) % 256 for j in range(4)]


def test_incremental_sig_filter_hot_bucket_cap(spark):
    """ADVICE r3: `max_bucket_size` caps degenerate (band_idx, band_hash)
    buckets in the stored index before the candidate join. With a hot
    bucket (many identical indexed docs) and a cap below its size, the
    bucket is excluded and the near-dup survives; default None keeps the
    original (drop) behavior."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    history = spark.createDataFrame(
        [(i, base) for i in range(10)], "doc_id long, text string"
    )
    index = dedup.minhash_band_table(history)
    new = spark.createDataFrame([(99, base + " extra")], "doc_id long, text string")

    dropped = dedup.incremental_neardup_filter_sig(new, index, threshold=0.5)
    assert dropped.count() == 0  # default: near-dup of the indexed docs

    capped = dedup.incremental_neardup_filter_sig(
        new, index, threshold=0.5, max_bucket_size=5
    )
    # every bucket holds all 10 identical docs -> all over cap -> no
    # candidates -> the new doc survives (the documented trade)
    assert [r["doc_id"] for r in capped.collect()] == [99]


def test_cap_arrow_batch_monotone(spark):
    """ADVICE r3: media operators only LOWER the session Arrow batch cap,
    never raise it (the conf is read at execution time, so raising could
    blow past a bound another operator needed)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "10000")
        multimodal._cap_arrow_batch(spark, 64)
        assert spark.conf.get(key) == "64"
        multimodal._cap_arrow_batch(spark, 5000)  # raise attempt: no-op
        assert spark.conf.get(key) == "64"
        multimodal._cap_arrow_batch(spark, 32)  # further lowering: applies
        assert spark.conf.get(key) == "32"
    finally:
        spark.conf.set(key, prior)

    # r12: the byte cap (Spark 4 maxBytesPerBatch) follows the same
    # monotone contract — payload width, not row count, is what blows
    # worker memory on media batches
    bkey = "spark.sql.execution.arrow.maxBytesPerBatch"
    bprior = spark.conf.get(bkey)
    try:
        spark.conf.set(bkey, str(64 << 20) + "b")
        multimodal._cap_arrow_batch(spark, 64, 32 << 20)
        assert spark.conf.get(bkey) == str(32 << 20) + "b"
        multimodal._cap_arrow_batch(spark, 64, 48 << 20)  # raise: no-op
        assert spark.conf.get(bkey) == str(32 << 20) + "b"
        multimodal._cap_arrow_batch(spark, 64, 16 << 20)  # lower: applies
        assert spark.conf.get(bkey) == str(16 << 20) + "b"
    finally:
        spark.conf.set(bkey, bprior)


def test_grouped_map_zscore_degenerate_groups(spark, tmp_path):
    """ADVICE r3: singleton and zero-variance groups must yield NULL
    z-scores instead of ZeroDivisionError / inf."""
    from sheetsetl_spark.queries import QUERIES

    rows = [
        (1, "SOLO", 10.0),           # singleton group: n-1 == 0
        (2, "FLAT", 5.0), (3, "FLAT", 5.0),  # zero variance
        (4, "OK", 1.0), (5, "OK", 2.0), (6, "OK", 3.0),
    ]
    spark.createDataFrame(
        rows, "c_custkey bigint, c_mktsegment string, c_acctbal double"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    out = {
        r["c_custkey"]: r["acctbal_z"]
        for r in QUERIES["b57b_grouped_map_zscore"](spark, str(tmp_path)).collect()
    }
    assert out[1] is None and out[2] is None and out[3] is None
    assert out[4] == -1.0 and out[5] == 0.0 and out[6] == 1.0


def test_cache_scope_bounds_operator_caches(spark):
    """VERDICT r3 item 3: repeated persisting-operator calls inside
    ``cache_scope`` must not grow the session cache — every intermediate
    the operator persisted is unpersisted at scope exit. Outside a scope
    the old contract (entry lives until cleared) still applies."""
    from sheetsetl_spark.cache import cache_scope
    from sheetsetl_spark.operators.dedup import minhash_lsh_pairs

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta token{i} eta theta iota")
         for i in range(30)],
        "doc_id long, text string",
    )
    for _ in range(3):
        with cache_scope() as tracked:
            pairs = minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=100)
            pairs.count()  # consume INSIDE the scope (cache is live here)
            assert len(tracked) >= 2  # shingle stream + band table
            assert not cm.isEmpty()
        assert cm.isEmpty(), "scope exit must release every operator cache"

    # outside any scope: unchanged legacy behavior (entry persists)
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    pairs.count()
    assert not cm.isEmpty()
    spark.catalog.clearCache()


def test_duplicated_passages_maximal_spans(spark):
    from sheetsetl_spark.operators.dedup import duplicated_passages

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),          # shares a..f with doc 2
            (2, "x x a b c d e f y"),        # the shared run sits at 3..8
            (3, "p q r s t u v w"),          # no cross-doc 5-gram
            (4, "a b c d e z z z m n o p q"),  # only the first window dups
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["start_pos"], r["end_pos"], r["n_tokens"])
        for r in duplicated_passages(docs, min_len=5, min_docs=2).collect()
    }
    # doc1: windows 1,2 duplicated -> island [1, 6]; doc2: windows 3,4 ->
    # [3, 8]; doc4: only window 1 ("a b c d e") -> [1, 5]; doc3: nothing
    assert got == {(1, 1, 6, 6), (2, 3, 8, 6), (4, 1, 5, 5)}


def test_duplicated_passages_separate_islands(spark):
    from sheetsetl_spark.operators.dedup import duplicated_passages

    docs = spark.createDataFrame(
        [
            (1, "a b c d e GAP1 GAP2 v w x y z"),
            (2, "a b c d e OTHER v w x y z"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["start_pos"], r["end_pos"])
        for r in duplicated_passages(docs, min_len=5, min_docs=2).collect()
    )
    # two distinct duplicated regions per doc -> two islands each
    assert got == [(1, 1, 5), (1, 8, 12), (2, 1, 5), (2, 7, 11)]


def test_hard_negatives_excludes_same_label(spark):
    from sheetsetl_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            (0, "A", [1.0, 0.0]),
            (1, "A", [0.999, 0.01]),   # nearest overall but SAME label
            (2, "B", [0.9, 0.1]),      # nearest different-label
            (3, "B", [0.0, 1.0]),      # orthogonal
            (4, "C", [0.8, 0.2]),
        ],
        "vec_id long, label string, embedding array<double>",
    )
    out = hard_negatives(emb, emb.filter("vec_id = 0"), k=2).collect()
    ranked = [(r["neighbor_id"], r["neg_rank"]) for r in sorted(out, key=lambda r: r["neg_rank"])]
    assert ranked == [(2, 1), (4, 2)]  # 1 excluded despite highest sim
    assert all(r["query_id"] == 0 for r in out)


def test_cosine_operators_reject_zero_norm_vectors(spark):
    """A zero-norm vector would silently rank as every query's top
    neighbor (0/0 = NaN sorts first desc) — the operators must fail
    loudly instead."""
    import pytest

    from sheetsetl_spark.operators.similarity import cosine_topk, hard_negatives

    emb = spark.createDataFrame(
        [(0, "A", [1.0, 0.0]), (1, "B", [0.0, 0.0]), (2, "B", [0.5, 0.5])],
        "vec_id long, label string, embedding array<double>",
    )
    with pytest.raises(Exception, match="zero-norm"):
        cosine_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
    with pytest.raises(Exception, match="zero-norm"):
        hard_negatives(emb, emb.filter("vec_id = 0"), k=2).collect()

    # c55's r12 numpy scorer carries the same loud guard (a zero-norm
    # CORPUS row reaches the mapInArrow pass, not the JVM normalize)
    from sheetsetl_spark.operators.similarity import cosine_topk_pq

    emb64 = spark.createDataFrame(
        [
            (i, [float(i + 1)] * 64 if i != 3 else [0.0] * 64)
            for i in range(5)
        ],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="zero-norm"):
        cosine_topk_pq(emb64, 0, [1, 2], k=2)


def test_quality_checks_detect_violations(spark):
    from sheetsetl_spark.operators import quality_checks as qc

    df = spark.createDataFrame(
        [(1, 10.0, "F"), (1, -5.0, "O"), (None, 2.0, "Z"), (3, None, "F")],
        "k int, price double, status string",
    )
    dim = spark.createDataFrame([(1,), (3,)], "k int")
    report = {
        r["check_name"]: (r["passed"], r["violations"])
        for r in qc.check_constraints(
            df,
            [
                qc.not_null("k"),
                qc.unique("k"),
                qc.in_range("price", 0, 100),
                qc.accepted_values("status", ["F", "O"]),
                qc.satisfies("price > 0", name="positive_price"),
                qc.referential("k", dim, "k"),
            ],
        ).collect()
    }
    assert report["not_null(k)"] == (False, 1)
    assert report["unique(k)"] == (False, 2)  # both rows of the dup pair
    assert report["in_range(price,0,100)"] == (False, 1)  # -5; NULL exempt
    assert report["accepted_values(status)"] == (False, 1)  # 'Z'
    # -5 and the NULL price both fail the custom predicate
    assert report["satisfies(positive_price)"] == (False, 2)
    assert report["referential(k->k)"] == (True, 0)  # nulls exempt, 1/3 exist


def test_quality_checks_all_green_and_empty_list(spark):
    import pytest

    from sheetsetl_spark.operators import quality_checks as qc

    df = spark.createDataFrame([(1,), (2,)], "k int")
    rows = qc.check_constraints(df, [qc.not_null("k"), qc.unique("k")]).collect()
    assert all(r["passed"] and r["violations"] == 0 for r in rows)
    with pytest.raises(ValueError, match="empty constraint"):
        qc.check_constraints(df, [])


def test_image_dhash_and_neardup_pairs(spark):
    """dHash over real PPM decode: identical images → hamming 0, a
    one-pixel brightening → hamming <= 1, unrelated images excluded;
    the banded blocking is validated against its pigeonhole contract."""
    import pytest as _pytest

    rows = []
    for mid, bump in ((1, 0), (2, 0), (3, 16)):
        # image 1 == image 2; image 3 = image 1 with pixel 0 brightened
        rgb = bytes(
            ((7 * j * j) % 251 + (bump if j < 3 else 0)) % 256 for j in range(60)
        )
        rows.append((mid, "image", multimodal.encode_ppm(5, 4, rgb), None))
    # image 9: unrelated pixels
    rows.append(
        (9, "image", multimodal.encode_ppm(5, 4, bytes((j * 97 + 13) % 256 for j in range(60))), None)
    )
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)

    h = {r["media_id"]: r["dhash"] for r in multimodal.image_dhash(media).collect()}
    assert h[1] == h[2]
    assert bin(h[1] ^ h[3]).count("1") <= 1

    got = {
        (r["img_a"], r["img_b"]): r["hamming"]
        for r in multimodal.image_neardup_pairs(media, max_hamming=1, bands=2).collect()
    }
    assert got[(1, 2)] == 0 and (1, 3) in got and (2, 3) in got
    assert all(9 not in pair for pair in got)

    with _pytest.raises(ValueError, match="pigeonhole"):
        multimodal.image_neardup_pairs(media, max_hamming=2, bands=2)
    # any band count is valid now (ceil-split over the live width);
    # the guarded parameter is hash_bits itself
    with _pytest.raises(ValueError, match="hash_bits"):
        multimodal.image_neardup_pairs(
            media, max_hamming=1, bands=3, hash_bits=2
        )
    # bands=3 over 64 bits is legal now: ceil-split widths, top band
    # shorter — recall still holds on the planted hamming-1 pair
    got3 = {
        (r["img_a"], r["img_b"])
        for r in multimodal.image_neardup_pairs(
            media, max_hamming=1, bands=3
        ).collect()
    }
    assert (1, 3) in got3 and (1, 2) in got3


def test_resize_then_dhash_canonical_pipeline(spark):
    """The standard dHash pipeline: images of DIFFERENT sizes resize to
    one canonical grid (real nearest-neighbor ppm_resizer), then hash —
    a scaled-up copy of an image lands on the same dhash as its
    original."""
    rgb_small = bytes((j * 37 + 11) % 256 for j in range(5 * 4 * 3))
    small = multimodal.encode_ppm(5, 4, rgb_small)
    # 2x nearest-neighbor upscale of the same image
    big = multimodal.ppm_resizer(small, 10, 8)
    media = spark.createDataFrame(
        [(1, "image", small, None), (2, "image", big, None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    canonical = multimodal.resize_images(media, 5, 4, resize_fn=multimodal.ppm_resizer)
    h = {r["media_id"]: r["dhash"] for r in multimodal.image_dhash(canonical).collect()}
    assert h[1] == h[2]
    # oversize guard: hashing the 10x8 directly would need 72 bits
    import pytest as _pytest

    with _pytest.raises(Exception, match="63-bit"):
        multimodal.image_dhash(media).collect()


def test_video_frame_dhashes_and_neardup(spark):
    """Frame-split via real P6 header parsing; shared-frame pairing:
    identical videos share all frames, a last-frame edit still pairs at
    min_shared_frames=2 but drops at 3."""
    def vid(mid, shift_last=0):
        frames = b"".join(
            multimodal.encode_ppm(
                5, 4,
                bytes(((j * 37 + f * 101) + (shift_last if f == 2 else 0)) % 256
                      for j in range(60)),
            )
            for f in range(3)
        )
        return (mid, "video", frames, None)

    media = spark.createDataFrame(
        [vid(1), vid(2), vid(3, shift_last=64)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    fh = multimodal.video_frame_dhashes(media).collect()
    assert {(r["media_id"], r["frame_idx"]) for r in fh} == {
        (m, f) for m in (1, 2, 3) for f in (0, 1, 2)
    }
    pairs2 = {
        (r["vid_a"], r["vid_b"]): r["shared_frames"]
        for r in multimodal.video_neardup_pairs(media, min_shared_frames=2).collect()
    }
    assert pairs2[(1, 2)] == 3 and pairs2[(1, 3)] == 2 and pairs2[(2, 3)] == 2
    pairs3 = {
        (r["vid_a"], r["vid_b"])
        for r in multimodal.video_neardup_pairs(media, min_shared_frames=3).collect()
    }
    assert pairs3 == {(1, 2)}


def test_wav_codec_roundtrip_and_audio_neardup(spark):
    """PCM16 WAV encode/parse roundtrip (RIFF chunk walk), exact
    windowed-energy fingerprints, and the banded Hamming pairing:
    identical clips → hamming 0, a last-window loudness nudge →
    hamming <= 1, unrelated clips excluded."""
    import numpy as np
    import pytest as _pytest

    samples = [((t * t) % 509) - 250 for t in range(256)]
    wav = multimodal.encode_wav(8000, samples)
    rate, back = multimodal.parse_wav(wav)
    assert rate == 8000 and list(back) == samples
    with _pytest.raises(ValueError, match="RIFF"):
        multimodal.parse_wav(b"not a wav")

    def clip(base, bump_last=0):
        return [
            ((base * 13 + ((t * t) % 509) * 3) % 4096) - 2048
            + (bump_last if t >= 224 else 0)
            for t in range(256)
        ]

    rows = [
        (1, "audio", multimodal.encode_wav(8000, clip(5)), None),
        (2, "audio", multimodal.encode_wav(8000, clip(5)), None),
        (3, "audio", multimodal.encode_wav(8000, clip(5, bump_last=64)), None),
        (9, "audio", multimodal.encode_wav(8000, list(np.arange(256) % 97 - 48)), None),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    h = {r["media_id"]: r["ehash"] for r in multimodal.audio_energy_hash(media, window=32).collect()}
    assert h[1] == h[2] and bin(h[1] ^ h[3]).count("1") <= 1
    got = {
        (r["clip_a"], r["clip_b"]): r["hamming"]
        for r in multimodal.audio_neardup_pairs(media, max_hamming=1, bands=2, window=32).collect()
    }
    assert got[(1, 2)] == 0 and (1, 3) in got and (2, 3) in got
    assert all(9 not in p for p in got)


def test_wav_codec_property_roundtrip():
    """Hypothesis sweep: encode/parse roundtrips arbitrary int16 sample
    arrays (odd lengths exercise RIFF word-alignment padding)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=300),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def check(samples, rate):
        wav = multimodal.encode_wav(rate, samples)
        got_rate, got = multimodal.parse_wav(wav)
        assert got_rate == rate and list(got) == samples

    check()


def _py_winnow(text: str, k: int = 5, w: int = 4) -> set[tuple[int, int]]:
    """Reference winnowing (Schleimer et al. fig. 5 semantics): for each
    full window of w gram hashes, select the rightmost minimum."""
    import hashlib

    toks = text.split(" ")
    hashes = []
    for i in range(len(toks) - k + 1):
        gram = " ".join(toks[i : i + k])
        hashes.append(int(hashlib.md5(gram.encode()).hexdigest()[:15], 16))
    out = set()
    for s in range(len(hashes) - w + 1):
        window = hashes[s : s + w]
        m = min(window)
        p = max(i for i, h in enumerate(window) if h == m)
        out.add((s + p, m))
    return out


def test_winnowing_matches_python_reference(spark):
    from sheetsetl_spark.operators import text as text_ops

    texts = [
        "the quick brown fox jumps over the lazy dog and runs far away home",
        # repeated tokens force hash ties inside windows -> exercises the
        # rightmost-tiebreak encoding in the sort key
        "a a a a a a a a a a b a a a a a a a a",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.fp_pos, r.fp_hash)
        for r in text_ops.winnow_selected(df, k=5, w=4).collect()
    }
    want = {
        (i, pos, h) for i, t in enumerate(texts) for pos, h in _py_winnow(t)
    }
    assert got == want


def test_winnowing_shared_run_guarantee(spark):
    """Any shared token run of length >= w+k-1 (= 8 here) must yield at
    least one shared fingerprint hash — the winnowing detection
    guarantee that makes it a sound dedup candidate generator."""
    from sheetsetl_spark.operators import text as text_ops

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    a = "one two three four five " + shared + " six seven eight nine"
    b = "red green blue yellow purple orange " + shared + " cyan magenta"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = text_ops.winnow_selected(df, k=5, w=4).collect()
    h1 = {r.fp_hash for r in rows if r.doc_id == 1}
    h2 = {r.fp_hash for r in rows if r.doc_id == 2}
    assert h1 & h2


def test_pq_degenerate_inputs_raise_value_error(spark):
    """c55 refuses degenerate inputs with ValueError before any corpus
    pass: unknown query/seed ids, NULL or zero-norm seed/query vectors,
    and a vector length m does not divide."""
    emb = spark.createDataFrame(
        [(i, [float(i + 1), 1.0, -1.0, 2.0, 0.5, 3.0]) for i in range(6)]
        + [(6, [0.0] * 6), (7, None)],
        "vec_id long, embedding array<double>",
    )
    cases = [
        ((99, [1, 2]), {}, "not in the embeddings"),  # query id
        ((0, [1, 77]), {}, "not in the embeddings"),  # seed id
        ((0, [1, 6]), {}, "zero-norm"),  # zero seed
        ((0, [1, 7]), {}, "zero-norm"),  # NULL seed
        ((6, [1, 2]), {}, "zero-norm"),  # zero query
        ((7, [1, 2]), {}, "zero-norm"),  # NULL query
        ((0, [1, 2]), {"m": 4}, "divisible by m=4"),
        ((0, [1, 2]), {"m": 0}, "m >= 1"),
        ((0, []), {}, "1..100 seeds"),
    ]
    for args, kwargs, msg in cases:
        with pytest.raises(ValueError, match=msg):
            similarity.cosine_topk_pq(emb, *args, k=2, m=kwargs.get("m", 3))


def test_pq_sub_dim_follows_vector_length(spark):
    """The subvector width comes from the data, not a fixed 64: 12-dim
    vectors at m=4 split into 3-wide subspaces, and the exact re-rank
    puts the query's scaled copy first with cosine 1."""
    base = [1.0, 2.0, 0.5, -1.0, 3.0, 0.25, 1.5, -2.0, 0.75, 1.0, 2.5, -0.5]
    rows = [(0, base), (1, [2.0 * x for x in base])]
    rows += [(i, [float((i * 7 + j) % 5) - 1.5 for j in range(12)]) for i in range(2, 10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.cosine_topk_pq(emb, 0, [2, 3, 4, 5], k=3, m=4, shortlist=9).collect()
    assert len(got) == 3
    assert (got[0].neighbor_id, got[0].pq_rank, got[0].sim) == (1, 1, 1.0)


def test_pq_shortlist_rerank_recall(spark):
    """PQ ADC shortlist + exact re-rank must recover most of the true
    top-10 (deterministic: 1.0 at this fixture; the bound leaves noise
    headroom). Direct 6-bit ADC ranking alone is far weaker — the test
    pins that the two-stage shape, not luck, provides the recall."""
    emb = load_table(spark, SF_SMALL, "embeddings")
    seeds = [(3 + 7 * j) % 499 for j in range(64)]
    pq = {
        r.neighbor_id
        for r in similarity.cosine_topk_pq(emb, 0, seeds, k=10).collect()
    }
    exact = {
        r.neighbor_id
        for r in similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=10
        ).collect()
    }
    assert len(pq & exact) / 10 >= 0.8


def test_bloom_prefilter_no_false_negatives(spark):
    """The bloom pass-set must be a SUPERSET of the exact semi-join —
    a bloom filter never drops a true member."""
    from sheetsetl_spark.operators import bloom

    orders = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    build = orders.filter(F.col("o_totalprice") > 450000)
    passed = {
        (r.l_orderkey, r.l_linenumber)
        for r in bloom.bloom_prefilter(
            li, build, "l_orderkey", "o_orderkey", width=1024, k=3
        ).select("l_orderkey", "l_linenumber").collect()
    }
    exact = {
        (r.l_orderkey, r.l_linenumber)
        for r in li.join(
            build.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "semi",
        ).select("l_orderkey", "l_linenumber").collect()
    }
    assert exact <= passed
    # and at this deliberately undersized width, it is a STRICT superset
    # (false positives exist) — the report has something to measure
    assert len(passed) > len(exact)


def test_winnowing_short_doc_has_no_full_window(spark):
    """A doc with fewer than k+w-1 tokens (no full hash window) yields
    no fingerprints; a doc at exactly the boundary yields exactly one."""
    from sheetsetl_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),  # 7 tokens -> 3 gram hashes < w=4: none
            (2, "a b c d e f g h"),  # 8 tokens -> 4 hashes: one window
        ],
        "doc_id long, text string",
    )
    rows = text_ops.winnow_selected(df, k=5, w=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc
    assert len(by_doc[2]) == 1


def test_rrf_fuse_three_lists_and_missing_docs(spark):
    """rrf_fuse generalizes to N lists; absent docs contribute 0 from
    the lists that missed them (standard RRF)."""
    from sheetsetl_spark.operators.retrieval import rrf_fuse

    l1 = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, r1 int")
    l2 = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, r2 int")
    l3 = spark.createDataFrame([(3, 1), (1, 2)], "doc_id long, r3 int")
    out = {
        r.doc_id: r.rrf_score
        for r in rrf_fuse(
            [l1, l2, l3], k=10, rrf_k=60, rank_cols=["r1", "r2", "r3"]
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    # doc 2: ranks (2, 1, -) -> 1/62 + 1/61; doc absent from l3
    assert abs(out[2] - round(1 / 62 + 1 / 61, 6)) < 1e-9


def test_cooccurrence_group_size_cap(spark):
    """max_group_size drops a degenerate mega-basket BEFORE it squares:
    pairs from the capped group vanish, small groups unaffected."""
    from sheetsetl_spark.operators.graph import cooccurrence_pairs

    rows = [(1, i) for i in range(20)] + [(2, 1), (2, 2)]
    df = spark.createDataFrame(rows, "g long, item long")
    capped = cooccurrence_pairs(df, "g", "item", top=100, max_group_size=5)
    got = {(r.item_a, r.item_b) for r in capped.collect()}
    assert got == {(1, 2)}
    uncapped = cooccurrence_pairs(df, "g", "item", top=1000)
    assert uncapped.count() == 190 + 0  # C(20,2), the (1,2) pair merges in


def test_weighted_sample_rejects_nonpositive_weights(spark):
    from sheetsetl_spark.operators.layout import weighted_sample

    df = spark.createDataFrame([(1, 10), (2, 0)], "doc_id long, w long")
    with pytest.raises(Exception, match="weights must be > 0"):
        weighted_sample(df, "doc_id", "w", k=2).collect()


def test_skew_report_suggests_salt_for_hot_key(spark):
    """A key holding half the table gets skew_ratio ~ n_keys/2 and a
    correspondingly capped salt suggestion."""
    from sheetsetl_spark.operators.skew import skew_report

    rows = [(99,)] * 100 + [(i,) for i in range(100)]
    df = spark.createDataFrame(rows, "k long")
    top = skew_report(df, "k", top=1).collect()[0]
    assert top.key == 99 and top.cnt == 101
    assert top.suggested_salt == 32  # ratio ~50 caps at max_salt


def test_pagerank_rounded_conserves_mass(spark):
    """Rank mass stays ~1 after 5 rounds on a symmetrized graph (no
    dangling leakage; 6-dp rounding bounds the drift)."""
    from sheetsetl_spark.operators.graph import pagerank_rounded

    edges = spark.createDataFrame(
        [(a, b) for a, b in [(1, 2), (2, 3), (3, 1), (1, 4)]],
        "src long, dst long",
    )
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    total = sum(r.pr for r in pagerank_rounded(sym, iters=5).collect())
    assert abs(total - 1.0) < 1e-3


def test_banded_hamming_live_bits_no_dead_band(spark):
    """Regression for the r8 100x hang: banding a SHORT hash over the
    full 64 bits leaves high bands identically zero — one corpus-wide
    bucket whose equi-join is quadratic. With hash_bits set to the live
    width, every band must carry >1 distinct value on a random corpus,
    and the pigeonhole recall guarantee must still find a planted
    Hamming-1 pair."""
    import hashlib

    from pyspark.sql import functions as F

    from sheetsetl_spark.operators.multimodal import _banded_hamming_pairs

    # 200 pseudo-random 31-bit hashes + one planted hamming-1 twin
    def h31(i: int) -> int:
        return int.from_bytes(hashlib.md5(f"bh:{i}".encode()).digest()[:4], "big") & 0x7FFFFFFF

    rows = [(i, h31(i)) for i in range(200)]
    rows.append((1000, h31(7) ^ 1))  # hamming 1 from id 7
    df = spark.createDataFrame(rows, "media_id long, ehash long")
    pairs = {
        (r.clip_a, r.clip_b): r.hamming
        for r in _banded_hamming_pairs(
            df, "ehash", "media_id", 1, 2, "clip_a", "clip_b", hash_bits=31
        ).collect()
    }
    assert pairs[(7, 1000)] == 1
    # non-degenerate banding: each band's value set is large on random
    # hashes (the 64-bit default would make band 1 all-zero)
    width = -(-31 // 2)
    mask = (1 << width) - 1
    stacked = df.select(
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("ehash"), b * width).bitwiseAND(F.lit(mask))
                    for b in range(2)
                ]
            )
        ).alias("band_idx", "band_val")
    )
    per_band = {
        r.band_idx: r.nd
        for r in stacked.groupBy("band_idx")
        .agg(F.countDistinct("band_val").alias("nd"))
        .collect()
    }
    assert per_band[0] > 100 and per_band[1] > 100, per_band


def test_band_slices_cover_disjoint_nonempty_exhaustive():
    """The ADVICE-r8 dead-band space, swept exhaustively: for EVERY
    (hash_bits, bands) combo the callers can validate (bands <=
    hash_bits <= 64), the balanced slices must cover bits [0,
    hash_bits) exactly once with every band non-empty — the uniform
    ceil width failed e.g. (4, 3), leaving band 2 past the live bits."""
    from sheetsetl_spark.operators.multimodal import _band_slices

    for hash_bits in range(1, 65):
        for bands in range(1, hash_bits + 1):
            slices = _band_slices(hash_bits, bands)
            assert len(slices) == bands
            seen = 0
            for shift, mask in slices:
                assert mask > 0, (hash_bits, bands, shift)  # non-empty band
                block = mask << shift
                assert seen & block == 0, (hash_bits, bands)  # disjoint
                seen |= block
            assert seen == (1 << hash_bits) - 1, (hash_bits, bands)  # cover


# --- round-10: widen_to_cores (verdict r9 №7 — no df.rdd on the file path) --


def test_widen_to_cores_file_lineage_never_touches_rdd(spark, tmp_path):
    """On a file-backed frame, widen_to_cores must decide from file
    sizes alone — `.rdd` forces a physical-plan build on the driver,
    a latency tax at ~12 call sites per bench session (r9 verdict №2/№7).
    Prove it by making DataFrame.rdd explode for the duration."""
    from pyspark.sql import DataFrame

    from sheetsetl_spark.operators.skew import widen_to_cores

    path = str(tmp_path / "one.parquet")
    spark.range(1000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)

    def _boom(self):
        raise AssertionError("widen_to_cores touched df.rdd on the file path")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "rdd", property(_boom))
        widened = widen_to_cores(df, min_input_bytes=1)
        passed = widen_to_cores(df)  # tiny input: size gate passes through
    want = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == want
    assert passed is df


def test_widen_to_cores_no_lineage_falls_back_to_partition_probe(spark):
    from sheetsetl_spark.operators.skew import widen_to_cores

    narrow = spark.range(100).coalesce(1)
    want = spark.sparkContext.defaultParallelism
    assert widen_to_cores(narrow).rdd.getNumPartitions() == want
    wide = spark.range(100).repartition(want)
    assert widen_to_cores(wide) is wide


def test_spread_by_key_sizes_from_file_split_estimate(spark, tmp_path):
    """spread_by_key reads the same file-size split estimate as
    widen_to_cores, without touching df.rdd: with a small
    maxPartitionBytes the estimate exceeds the cluster width and sets the
    partition count; a tiny input spreads to exactly the cluster width."""
    from pyspark.sql import DataFrame

    from sheetsetl_spark.operators.skew import spread_by_key

    want = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one.parquet")
    spark.range(20000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    (size,) = [os.path.getsize(f.removeprefix("file:")) for f in df.inputFiles()]
    split = max(1, size // (want * 3))
    est = -(-size // split)

    def _boom(self):
        raise AssertionError("spread_by_key touched df.rdd on the file path")

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(DataFrame, "rdd", property(_boom))
            tiny = spread_by_key(df, ["id"])
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
            wide = spread_by_key(df, ["id"])
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert est > want
    assert tiny.rdd.getNumPartitions() == want
    assert wide.rdd.getNumPartitions() == est


def test_parse_bytes_conf_units():
    from sheetsetl_spark.operators.skew import _parse_bytes_conf

    assert _parse_bytes_conf("134217728b") == 128 << 20
    assert _parse_bytes_conf("128m") == 128 << 20
    assert _parse_bytes_conf("128MB") == 128 << 20
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf("4194304") == 4 << 20
    # Spark's JavaUtils unit set runs through t/tb and p/pb — without
    # them a terabyte conf silently fell back to 128 MB and the split
    # estimate skipped every widen with no signal (ADVICE r10)
    assert _parse_bytes_conf("1t") == 1 << 40
    assert _parse_bytes_conf("2TB") == 2 << 40
    assert _parse_bytes_conf("1p") == 1 << 50
    with pytest.warns(UserWarning, match="maxPartitionBytes"):
        assert _parse_bytes_conf("garbage") == 128 << 20  # loud default


def test_default_driver_mem_scales_with_cores(monkeypatch):
    """Local-mode heap derives from ACTIVE PARALLELISM, small (r12
    revert of the r11 machine-derived 47g — the driver measured it as
    a 2.7x whole-bench regression at local[32]); env wins, and the
    floor/cap hold. Host-independent by construction: sizing reads
    $SPARK_GRAFT_CPUS, not physical RAM."""
    from sheetsetl_spark.session import _default_driver_mem

    import sheetsetl_spark.session as sess

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "7g")
    assert _default_driver_mem() == "7g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(sess, "_mem_available_gb", lambda: 120.0)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert _default_driver_mem() == "16g"  # 0.5 GB/thread, capped at 16
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert _default_driver_mem() == "12g"  # floor
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "128")
    assert _default_driver_mem() == "16g"  # cap holds at any core count
    # concurrency cap (r11, kept): when neighbors already hold most of
    # RAM the session must shrink instead of dying in the gateway
    # handshake (the fast gate's third 47g shard, JAVA_GATEWAY_EXITED)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setattr(sess, "_mem_available_gb", lambda: 17.0)
    assert _default_driver_mem() == "13g"
    monkeypatch.setattr(sess, "_mem_available_gb", lambda: 4.0)
    assert _default_driver_mem() == "12g"  # floor still wins
    monkeypatch.setattr(sess, "_mem_available_gb", lambda: None)
    assert _default_driver_mem() == "16g"  # unreadable -> cores sizing


def test_driver_java_opts_pretouch_is_opt_in(monkeypatch):
    """The Xms=Xmx+AlwaysPreTouch heap pin is OFF by default (r12: the
    driver's ground truth charged the pre-touched 47g heap with a 2.7x
    bench regression on lazily-paged virtualized hosts — BENCH_r11
    148.6 s at 32 cores vs BENCH_r11_c8 55.4 s, same code) and opt-in
    via SPARK_GRAFT_HEAP_PIN=1 for the bare-metal host class where the
    G1 commit-churn it fixes was measured (r11: c82 20.1 s -> 4.1 s)."""
    from sheetsetl_spark.session import _driver_java_opts, _mem_to_mb

    monkeypatch.delenv("SPARK_GRAFT_HEAP_PIN", raising=False)
    assert _driver_java_opts("46g") == ""
    assert _driver_java_opts("8g") == ""
    monkeypatch.setenv("SPARK_GRAFT_HEAP_PIN", "1")
    assert _driver_java_opts("46g") == "-Xms47104m -XX:+AlwaysPreTouch"
    assert _driver_java_opts("8g") == "-Xms8192m -XX:+AlwaysPreTouch"
    assert _driver_java_opts("512m") == "-Xms512m -XX:+AlwaysPreTouch"
    # unparseable memory: never emit an Xms that could exceed Xmx
    assert "-Xms" not in _driver_java_opts("weird")
    monkeypatch.setenv("SPARK_GRAFT_HEAP_PIN", "0")
    assert _driver_java_opts("46g") == ""
    assert _mem_to_mb("1t") == 1 << 20 and _mem_to_mb("4194304k") == 4096


def test_widen_to_cores_sees_through_downstream_coalesce(spark, tmp_path):
    """The file-split estimate speaks only for raw scans (ADVICE r10):
    a frame explicitly narrowed downstream must NOT be left unwidened
    just because its source files look wide enough, and a frame
    already repartitioned wide over one small file must not pay a
    second exchange."""
    from sheetsetl_spark.operators.skew import widen_to_cores

    want = spark.sparkContext.defaultParallelism
    wide_path = str(tmp_path / "wide.parquet")
    spark.range(5000).repartition(want * 2).write.parquet(wide_path)
    narrowed = spark.read.parquet(wide_path).coalesce(1)
    assert widen_to_cores(narrowed, min_input_bytes=1).rdd.getNumPartitions() == want

    one_path = str(tmp_path / "one.parquet")
    spark.range(5000).coalesce(1).write.parquet(one_path)
    prewidened = spark.read.parquet(one_path).repartition(want)
    assert widen_to_cores(prewidened, min_input_bytes=1) is prewidened


def test_widen_to_cores_explicit_files_override(spark, tmp_path):
    """A partition-pruned scan's inputFiles() enumerates the WHOLE
    table (the r10 search_ivf_index negative result); the caller can
    hand widen_to_cores the pruned listing instead and get the widen
    the true split count calls for."""
    import glob

    from sheetsetl_spark.operators.skew import widen_to_cores

    want = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "parted.parquet")
    (
        spark.range(20000)
        .withColumn("p", (F.col("id") % 64).cast("int"))
        .repartition("p")
        .write.partitionBy("p")
        .parquet(path)
    )
    pruned = spark.read.parquet(path).filter(F.col("p").isin([0, 1]))
    # whole-table listing: 64 files >= cores, the widen would no-op
    assert len(pruned.inputFiles()) >= want
    pfiles = [
        f for q in (0, 1)
        for f in glob.glob(f"{path}/p={q}/*.parquet")
    ]
    assert 0 < len(pfiles) < want
    widened = widen_to_cores(pruned, min_input_bytes=1, files=pfiles)
    assert widened.rdd.getNumPartitions() == want


# --- round-10: choose_banding (verdict r9 №3 — codify the value-space law) --


def test_choose_banding_reproduces_measured_law():
    """The r9-measured band-value-space rule, now code instead of a
    docstring: 8-bit bands through the verified-linear ≤20k regime
    (every oracle SF and the 10x fixture — these MUST stay at the
    legacy (32, 4) or the static 32-plane oracle twins break), the
    measured 16-bit fix at the 200k 100x point, and the ≤4-per-bucket
    occupancy law beyond, capped at 30 bits."""
    from sheetsetl_spark.operators.dedup import choose_banding

    # the verified-linear small regime: exactly the legacy default
    for n in (1_000, 2_020, 5_000, 10_000, 20_000):
        assert choose_banding(n) == (32, 4), n
    # the measured 100x anchor: 16-bit bands
    assert choose_banding(200_000) == (64, 4)
    # occupancy law beyond: 2^width >= n/4 (and never below 16 bits)
    prev = 0
    for exp in range(3, 10):  # 1e3 .. 1e9
        n = 10 ** exp
        planes, bands = choose_banding(n)
        width = planes // bands
        assert planes % bands == 0 and bands == 4
        assert width >= prev, "width must be monotonic in n"
        prev = width
        if n > 20_000:
            assert width >= 16
            assert (1 << width) * 4 >= n or width == 30, (n, width)
    assert choose_banding(10 ** 9) == (28 * 4, 4)  # 1e9 vectors: 28-bit bands
    assert choose_banding(10 ** 12)[0] // 4 == 30  # cap


def test_neardup_pairs_n_rows_skips_the_count(spark):
    """A caller that already knows the corpus size passes n_rows and
    the auto-banding path must NOT count() the frame — for derived
    frames (c2e's union+zip_with corpus) that count is a full extra
    plan evaluation (ADVICE r10). Proven by making count() explode."""
    import math

    from pyspark.sql import DataFrame

    from sheetsetl_spark.operators import dedup

    emb = spark.createDataFrame(
        [(i, [math.sin(i * 3.1 + j) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )

    def _boom(self):
        raise AssertionError("n_rows given but the frame was counted")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrame, "count", _boom)
        pairs = dedup.embedding_neardup_pairs(
            emb, threshold=0.98, dim=8, n_rows=30
        )
        index = dedup.embedding_band_index(emb, dim=8, n_rows=30)
    # same banding as an explicitly-pinned choose_banding(30) == (32, 4)
    pinned = dedup.embedding_neardup_pairs(
        emb, threshold=0.98, num_planes=32, bands=4, dim=8
    )
    assert sorted(pairs.collect()) == sorted(pinned.collect())
    assert index.select(F.max("band_idx")).first()[0] == 3
    assert len(index.select("band_val").first()[0]) == 8  # 8-bit bands


def test_incremental_filter_derives_banding_from_index(spark):
    """The ingest filter must signature the new batch with the INDEX's
    stored banding (bands = max(band_idx)+1, width = len(band_val)) —
    a 60-row batch against a wide index would otherwise re-derive
    8-bit bands from its own size and the equi-join keys would never
    line up. Build the index WIDE explicitly, filter with num_planes
    unset, and require a planted near-dup of history to drop."""
    import math

    from sheetsetl_spark.operators import dedup

    dim = 8
    base = [
        (i, [math.sin(i * 7.3 + j * 1.7) + (1.1 if j == i % dim else 0.0)
             for j in range(dim)])
        for i in range(40)
    ]
    hist = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    index = dedup.embedding_band_index(hist, num_planes=48, bands=6, dim=dim)
    # new batch: a near-copy of vec 3 (must DROP) + one fresh vector
    nb = spark.createDataFrame(
        [(1003, [v * 1.0001 for v in base[3][1]]),
         (2000, [(-1.0) ** j * (j + 1.0) for j in range(dim)])],
        "vec_id long, embedding array<double>",
    )
    out = dedup.incremental_embedding_neardup_filter(
        nb, index, threshold=0.98, dim=dim
    )
    assert {r["vec_id"] for r in out.collect()} == {2000}
    # empty index: falls back to the law on the batch, keeps everything
    empty = index.filter("vec_id < 0")
    out2 = dedup.incremental_embedding_neardup_filter(
        nb, empty, threshold=0.98, dim=dim
    )
    assert {r["vec_id"] for r in out2.collect()} == {1003, 2000}
