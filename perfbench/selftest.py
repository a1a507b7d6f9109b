"""Self-test of the benchmark's own checks; needs no Spark.

    python3 perfbench/selftest.py

Plants wrong outputs and shows that each verifier rejects them, and pins
the tail-percentile rank rule. Exits non-zero on the first failure.
"""

from __future__ import annotations

import io
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402

from measure import Tracer, tail_percentile  # noqa: E402
from verify import csv_rows, digest, frame_rows  # noqa: E402
from workloads import Context, _check_analyst, _check_headline, _check_ingest  # noqa: E402


def _ctx(expected: dict) -> Context:
    return Context(root="", work="", sf_dir="", seed=0, seconds=0, expected=expected, tracer=None)


def _csv(df: pd.DataFrame) -> bytes:
    buf = io.StringIO()
    df.to_csv(buf, index=False)
    return buf.getvalue().encode()


class _Result:
    def __init__(self, name, status, error=None):
        self.name, self.status, self.error = name, status, error


class _Server:
    def __init__(self, payload: bytes):
        self.payload = payload

    def call(self, path):
        return self.payload


def check_tail_rule() -> None:
    values = [float(v) for v in range(1, 43)]  # 42 items, shuffled order must not matter
    assert tail_percentile(values[::-1]) == (75, 32.0), tail_percentile(values)
    assert tail_percentile([float(v) for v in range(1, 101)]) == (90, 90.0)
    assert tail_percentile([float(v) for v in range(1, 21)]) == (50, 10.0)
    assert tail_percentile([3.0, 1.0, 2.0]) == (100, 3.0)


def check_headline_verifier() -> None:
    good = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25], "s": ["b", "a"]})
    ctx = _ctx({"headline": {"q": digest(frame_rows(good))}})
    # column order, row order and integer width do not matter ...
    same = pa.table({"v": [1.25, 0.5], "s": ["a", "b"], "k": pa.array([1, 2], type=pa.int32())})
    assert _check_headline(ctx, "q", same) and not ctx.errors
    # ... a changed value does
    wrong = pa.table({"k": [1, 2], "v": [1.25, 0.5000001], "s": ["a", "b"]})
    assert not _check_headline(ctx, "q", wrong) and len(ctx.errors) == 1
    # so does a dropped row
    short = pa.table({"k": [1], "v": [1.25], "s": ["a"]})
    assert not _check_headline(ctx, "q", short)


def check_analyst_verifier() -> None:
    oracle = pd.DataFrame({"n": [3, 4], "ts": pd.to_datetime(["1995-01-01", "1995-01-02"])})
    ctx = _ctx({"analyst": {"a": digest(csv_rows(_csv(oracle)))}, "analyst_rejects": ["r"]})
    sheet = pd.DataFrame({"ts": [pd.Timestamp("1995-01-02"), pd.Timestamp("1995-01-01")], "n": [4, 3]})
    assert _check_analyst(ctx, _Result("a", "ok"), _Server(_csv(sheet)), {"a": "id"}), ctx.errors
    planted = sheet.assign(n=[4, 5])
    assert not _check_analyst(ctx, _Result("a", "ok"), _Server(_csv(planted)), {"a": "id"})
    assert not _check_analyst(ctx, _Result("a", "sql_error", "boom"), _Server(b""), {})
    assert _check_analyst(ctx, _Result("r", "sql_error"), _Server(b""), {})
    assert not _check_analyst(ctx, _Result("r", "ok"), _Server(b""), {})


def check_ingest_verifier() -> None:
    texts = {
        1: "a b c d e f g h",
        2: "a b c d e f g x",  # near-duplicate of 1 (Jaccard 5/7)
        3: "p q r s t u v w",
        4: "a b c d e f g h",  # exact copy of 1
    }
    drops = [[1, 3], [2, 4]]
    good = {"doc_id": [1, 3], "__batch_id": [0, 0]}
    assert _check_ingest(_ctx({}), drops, good, texts) == 0
    # doc 3 has no near-duplicate: dropping it is wrong
    ctx = _ctx({})
    assert _check_ingest(ctx, drops, {"doc_id": [1], "__batch_id": [0]}, texts) == 1 and ctx.errors
    # a partner sharing a shingle but below the threshold does not justify a drop
    texts_low = {**texts, 5: "a b c p q r s t"}  # Jaccard 1/11 with doc 1
    assert _check_ingest(_ctx({}), [[1, 3], [5]], good, texts_low) == 1
    # keeping a doc twice is wrong
    assert _check_ingest(_ctx({}), drops, {"doc_id": [1, 3, 3], "__batch_id": [0, 0, 0]}, texts) >= 1
    # same-batch partner must have the smaller id: drop 1 in favour of 4 is wrong
    texts_same = {1: texts[1], 4: texts[4]}
    assert _check_ingest(_ctx({}), [[1, 4]], {"doc_id": [4], "__batch_id": [0]}, texts_same) == 1
    assert _check_ingest(_ctx({}), [[1, 4]], {"doc_id": [1], "__batch_id": [0]}, texts_same) == 0
    # a dedup that keeps everything: an exact copy kept next to its original
    keep_all = {"doc_id": [1, 3, 2, 4], "__batch_id": [0, 0, 1, 1]}
    ctx = _ctx({})
    assert _check_ingest(ctx, drops, keep_all, texts) == 1 and "doc 4 kept" in ctx.errors[0], ctx.errors
    assert _check_ingest(_ctx({}), [[1, 4]], {"doc_id": [1, 4], "__batch_id": [0, 0]}, texts_same) == 1
    # a cross-batch pair below DEDUP_STRICT may be missed by minhash banding
    assert _check_ingest(_ctx({}), [[1, 3], [2]], {"doc_id": [1, 3, 2], "__batch_id": [0, 0, 1]}, texts) == 0
    # the same pair inside one batch may not: that pass is exact
    assert _check_ingest(_ctx({}), [[1, 2]], {"doc_id": [1, 2], "__batch_id": [0, 0]}, texts) == 1


def check_self_time() -> None:
    tr = Tracer()
    tr.spans = [
        {"name": "item", "start": 0.0, "end": 10.0, "parent": None, "trace_id": "t"},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0, "trace_id": "t"},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0, "trace_id": "t"},
        {"name": "c", "start": 8.0, "end": 9.0, "parent": 0, "trace_id": "t"},
    ]
    assert tr.self_times()[0] == 10.0 - 5.0 - 1.0


def main() -> int:
    for check in (check_tail_rule, check_headline_verifier, check_analyst_verifier, check_ingest_verifier, check_self_time):
        check()
        print(f"ok {check.__name__}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
