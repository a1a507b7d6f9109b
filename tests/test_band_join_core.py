"""The shared band-join core of the banded near-dup families (MinHash,
hyperplane, Hamming; operators/dedup.py module docstring).

* Cross-path consistency: each family's incremental filter drops exactly
  the new rows that the family's pair finder, run over new ∪ history
  with the same banding, pairs with a history row.
* Plan shape: the banded registry queries never plan an all-pairs join,
  and every candidate join is keyed on band_idx plus the family's band
  key.
* The signature-estimate filter scores each candidate with the
  signatures of the rows that collided, even where an id repeats."""

from __future__ import annotations

import random
import re

import pytest

from sheetsetl_spark.operators import dedup, multimodal
from sheetsetl_spark.queries import QUERIES
from tests.conftest import SF_SMALL


def _dropped_by_pairs(pairs, a: str, b: str, new_ids: set[int]) -> set[int]:
    """New ids that some pair links to a history (non-new) id."""
    dropped = set()
    for r in pairs.collect():
        ida, idb = r[a], r[b]
        if (ida in new_ids) != (idb in new_ids):
            dropped.add(ida if ida in new_ids else idb)
    return dropped


def _assert_consistent(kept, id_col: str, new_ids: set[int], dropped: set[int]) -> None:
    assert dropped and dropped != new_ids  # both outcomes occur
    assert {r[id_col] for r in kept.collect()} == new_ids - dropped


def test_minhash_incremental_filter_matches_pair_finder(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    hist = [[rng.choice(vocab) for _ in range(12)] for _ in range(10)]
    new = []
    for i, words in enumerate(hist[:4]):  # near copies: one word replaced
        w = list(words)
        w[rng.randrange(12)] = "zz"
        new.append((100 + i, w))
    new += [(200 + i, [rng.choice(vocab) for _ in range(12)]) for i in range(3)]
    schema = "doc_id long, text string"
    history = spark.createDataFrame([(i, " ".join(w)) for i, w in enumerate(hist)], schema)
    batch = spark.createDataFrame([(i, " ".join(w)) for i, w in new], schema)
    banding = {"num_hashes": 16, "bands": 8, "max_shingle_df": None}
    pairs = dedup.minhash_lsh_pairs(
        batch.unionAll(history), threshold=0.5, max_bucket_size=None, **banding
    )
    new_ids = {i for i, _ in new}
    kept = dedup.incremental_neardup_filter(batch, history, threshold=0.5, **banding)
    _assert_consistent(kept, "doc_id", new_ids, _dropped_by_pairs(pairs, "doc_a", "doc_b", new_ids))


def test_hyperplane_incremental_filter_matches_pair_finder(spark):
    rng = random.Random(12)
    dim = 8
    hist = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(20)]
    new = [(100 + i, [x + rng.gauss(0, 0.01) for x in v]) for i, v in enumerate(hist[:4])]
    new += [(200 + i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(4)]
    schema = "vec_id long, embedding array<double>"
    history = spark.createDataFrame(list(enumerate(hist)), schema)
    batch = spark.createDataFrame(new, schema)
    banding = {"num_planes": 32, "bands": 4, "dim": dim}
    pairs = dedup.embedding_neardup_pairs(batch.unionAll(history), threshold=0.95, **banding)
    index = dedup.embedding_band_index(history, **banding)
    new_ids = {i for i, _ in new}
    kept = dedup.incremental_embedding_neardup_filter(batch, index, threshold=0.95, **banding)
    _assert_consistent(kept, "vec_id", new_ids, _dropped_by_pairs(pairs, "vec_a", "vec_b", new_ids))


def test_hamming_incremental_filter_matches_pair_finder(spark):
    rng = random.Random(13)
    bits = 20
    hist = [rng.getrandbits(bits) for _ in range(30)]
    new = [(100 + i, h ^ (1 << rng.randrange(bits)) ^ (1 << rng.randrange(bits)))
           for i, h in enumerate(hist[:5])]
    new += [(200 + i, rng.getrandbits(bits)) for i in range(5)]
    schema = "media_id long, dhash long"
    history = spark.createDataFrame(list(enumerate(hist)), schema)
    batch = spark.createDataFrame(new, schema)
    banding = {"max_hamming": 2, "bands": 3, "hash_bits": bits}
    pairs = multimodal._banded_hamming_pairs(
        batch.unionAll(history), "dhash", "media_id", a_name="m_a", b_name="m_b", **banding
    )
    new_ids = {i for i, _ in new}
    kept = multimodal.incremental_hamming_neardup_filter(batch, history, **banding)
    _assert_consistent(kept, "media_id", new_ids, _dropped_by_pairs(pairs, "m_a", "m_b", new_ids))


def test_signature_filter_scores_the_rows_that_collided(spark):
    """Two index rows share id 1: one collides with the new document on a
    whole band but agrees on 4 of 32 components, the other agrees on 16
    of 32 (the 0.5 threshold) but on no whole band. The estimate scores
    only the row that collided, so the document is kept; when the
    colliding row itself agrees on 16, it is dropped."""
    new = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    new_bands = dedup.minhash_band_table(new, max_shingle_df=None).collect()
    sig = new_bands[0]["sig"]
    band0 = next(r["band_hash"] for r in new_bands if r["band_idx"] == 0)
    one_band = sig[:4] + [x + 1 for x in sig[4:]]
    half_of_each = [x if j % 4 < 2 else x + 1 for j, x in enumerate(sig)]
    taken = {r["band_hash"] for r in new_bands}
    fresh = iter(h for h in range(1, 100) if h not in taken)

    def index(colliding_sig):
        rows = [(1, colliding_sig, 0, band0)]
        rows += [(1, colliding_sig, b, next(fresh)) for b in range(1, 8)]
        rows += [(1, half_of_each, b, next(fresh)) for b in range(8)]
        return spark.createDataFrame(
            rows, "doc_id long, sig array<long>, band_idx int, band_hash long"
        )

    def kept(colliding_sig):
        out = dedup.incremental_neardup_filter_sig(
            new, index(colliding_sig), threshold=0.5, max_shingle_df=None
        )
        return [r["doc_id"] for r in out.collect()]

    assert kept(one_band) == [7]
    assert kept(half_of_each) == []


_JOIN_KEYS = re.compile(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[([^\]]*)\], \[([^\]]*)\]")


@pytest.mark.parametrize(
    "name, key",
    [
        ("c2b_minhash_lsh", "band_hash"),
        ("c28_incremental_neardup", "band_hash"),
        ("c38_incremental_neardup_sig", "band_hash"),
        ("c2e_embedding_neardup", "band_val"),
        ("c49_incremental_embedding_neardup", "band_val"),
        ("c50_image_neardup", "band_val"),
        ("c52_audio_neardup", "band_val"),
    ],
)
def test_banded_queries_join_only_on_band_keys(spark, name, key):
    """Never all-pairs: no CartesianProduct or BroadcastNestedLoopJoin in
    the executed plan, and every join over band_idx is keyed on exactly
    (band_idx, family key) on both sides."""
    plan = QUERIES[name](spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    band_joins = [m for m in _JOIN_KEYS.findall(plan) if "band_idx" in m[0]]
    assert band_joins, plan
    for sides in band_joins:
        for keys in sides:
            assert [k.split("#")[0] for k in keys.split(", ")] == ["band_idx", key], sides
