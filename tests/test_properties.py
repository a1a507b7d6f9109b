"""Property-based tests (hypothesis) for the custom operators — random
inputs catch the edge cases the fixtures never produce: empty sides,
all-ties timestamps, hot keys, bin-boundary points.

Spark round-trips are expensive, so the Spark properties run few examples
on tiny frames; the pure-Python translator gets a wide sweep.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from sheetsetl_spark.functions.mysql_compat import mysql_to_spark_sql

_BASE = datetime(2024, 1, 1)

# Whole-module slow marker (hypothesis brute-force twins, full randomized sweep):
# the fast gate (-m 'not slow') still covers every oracle once at
# sf0.001 via test_oracle_queries.py.
pytestmark = pytest.mark.slow

# --- pure-Python: MySQL->Spark translator ---------------------------------


@given(off=st.integers(0, 10**6), cnt=st.integers(0, 10**6))
def test_translator_limit_offset(off, cnt):
    out = mysql_to_spark_sql(f"SELECT * FROM t LIMIT {off}, {cnt}")
    assert out == f"SELECT * FROM t LIMIT {cnt} OFFSET {off}"


@given(
    sql=st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Zs"), whitelist_characters="*,.=<>()_"),
        max_size=200,
    )
)
def test_translator_is_identity_without_mysql_constructs(sql):
    # no LIMIT a,b / DATE_FORMAT / GROUP_CONCAT -> text passes through
    if not any(k in sql.upper() for k in ("LIMIT", "DATE_FORMAT", "STR_TO_DATE", "GROUP_CONCAT")):
        assert mysql_to_spark_sql(sql) == sql


# --- Spark: as-of join vs a per-row reference ------------------------------

_asof_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=0, max_size=12
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(left_rows=_asof_rows, right_rows=_asof_rows)
def test_asof_join_matches_reference(spark, left_rows, right_rows):
    from sheetsetl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(k, _BASE + timedelta(minutes=m), i) for i, (k, m) in enumerate(left_rows)]
        or [(0, _BASE, -1)],
        "k int, ts timestamp_ntz, lid int",
    )
    right = spark.createDataFrame(
        [(k, _BASE + timedelta(minutes=m), i) for i, (k, m) in enumerate(right_rows)]
        or [(99, _BASE, -1)],
        "k int, ts timestamp_ntz, rid int",
    )
    got = {
        (r["lid"], r["rid"])
        for r in asof_join(
            left, right, on=["k"], right_order=F.col("rid"), how="inner"
        ).collect()
    }
    # reference: latest right ts <= left ts per key; ties -> max rid
    want = set()
    lrows = left_rows or [(0, 0)]
    rrows = right_rows or [(99, 0)]
    for li, (lk, lm) in enumerate(lrows if left_rows else [(0, 0)]):
        lid = li if left_rows else -1
        cands = [
            (rm, ri)
            for ri, (rk, rm) in enumerate(rrows if right_rows else [(99, 0)])
            if rk == lk and rm <= lm
        ]
        if cands:
            best = max(cands)  # (ts, rid) lexicographic == latest ts, max rid
            want.add((lid, best[1] if right_rows else -1))
    assert got == want


# --- Spark: salted join == plain join --------------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left_keys=st.lists(st.integers(0, 3), min_size=1, max_size=20),
    right_keys=st.lists(st.integers(0, 3), min_size=1, max_size=6),
)
def test_salted_join_property(spark, left_keys, right_keys):
    from sheetsetl_spark.operators.skew import salted_join

    left = spark.createDataFrame([(k, i) for i, k in enumerate(left_keys)], "k int, lv int")
    right = spark.createDataFrame([(k, i) for i, k in enumerate(right_keys)], "k int, rv int")
    plain = sorted(map(tuple, left.join(right, "k").select("lv", "rv").collect()))
    salted = sorted(map(tuple, salted_join(left, right, on=["k"]).select("lv", "rv").collect()))
    assert salted == plain


# --- Spark: range join is bin-width invariant ------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=st.lists(st.integers(0, 100), min_size=1, max_size=15),
    intervals=st.lists(
        st.tuples(st.integers(0, 100), st.integers(1, 30)), min_size=1, max_size=6
    ),
    bin_width=st.sampled_from([60, 600, 3600]),
)
def test_range_join_bin_width_invariant(spark, points, intervals, bin_width):
    from sheetsetl_spark.operators.ranges import point_in_interval_join

    pts = spark.createDataFrame(
        [(i, _BASE + timedelta(minutes=m)) for i, m in enumerate(points)],
        "pid int, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (i, _BASE + timedelta(minutes=s), _BASE + timedelta(minutes=s + d))
            for i, (s, d) in enumerate(intervals)
        ],
        "iid int, iv_start timestamp, iv_end timestamp",
    )
    got = sorted(
        map(
            tuple,
            point_in_interval_join(pts, ivs, "ts", "iv_start", "iv_end", bin_width)
            .select("pid", "iid")
            .collect(),
        )
    )
    want = sorted(
        (pi, ii)
        for pi, pm in enumerate(points)
        for ii, (s, d) in enumerate(intervals)
        if s <= pm < s + d
    )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    points=st.lists(st.integers(0, 40_000), min_size=1, max_size=15),
    intervals=st.lists(
        st.tuples(st.integers(0, 40_000), st.integers(1, 12_000)), min_size=1, max_size=6
    ),
    bin_width=st.sampled_from([1, 10, 60]),
)
def test_range_join_fractional_second_bounds(spark, points, intervals, bin_width):
    """Sub-second timestamps (millisecond offsets): an interval whose
    exclusive end falls mid-bin must still match points in its final bin
    — the regression the second-truncated bin math used to drop."""
    from sheetsetl_spark.operators.ranges import point_in_interval_join

    pts = spark.createDataFrame(
        [(i, _BASE + timedelta(milliseconds=m)) for i, m in enumerate(points)],
        "pid int, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (i, _BASE + timedelta(milliseconds=s), _BASE + timedelta(milliseconds=s + d))
            for i, (s, d) in enumerate(intervals)
        ],
        "iid int, iv_start timestamp, iv_end timestamp",
    )
    got = sorted(
        map(
            tuple,
            point_in_interval_join(pts, ivs, "ts", "iv_start", "iv_end", bin_width)
            .select("pid", "iid")
            .collect(),
        )
    )
    want = sorted(
        (pi, ii)
        for pi, pm in enumerate(points)
        for ii, (s, d) in enumerate(intervals)
        if s <= pm < s + d
    )
    assert got == want


@given(
    vec=st.lists(
        st.floats(-100.0, 100.0, allow_nan=False, width=32), min_size=2, max_size=16
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_int8_quantize_error_bound(spark, vec):
    """Quantization error per dim is <= max|v|/254 + eps (half a grid
    step), and the grid never exceeds [-127, 127]."""
    from sheetsetl_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame([(vec,)], "v array<double>")
    qv_col, scale = int8_quantize(F.col("v"))
    row = df.select(qv_col.alias("qv"), scale.alias("sc")).first()
    max_abs = max(abs(x) for x in vec)
    assert all(-127 <= q <= 127 for q in row.qv)
    if max_abs > 0:
        for orig, q in zip(vec, row.qv):
            assert abs(orig - q / row.sc) <= max_abs / 254 + 1e-9


@given(
    a=st.integers(0, 2**16 - 1),
    b=st.integers(0, 2**16 - 1),
    c=st.integers(0, 2**16 - 1),
    d=st.integers(0, 2**16 - 1),
)
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_zorder_value_is_injective_and_orders_quadrants(spark, a, b, c, d):
    """The Morton code is a bijection on (16-bit, 16-bit) pairs, and the
    high quadrant bit dominates: points in the lower-left quadrant always
    sort before the upper-right."""
    from sheetsetl_spark.operators.layout import zorder_value

    df = spark.createDataFrame([(a, b, c, d)], "a long, b long, c long, d long")
    row = df.select(
        zorder_value("a", "b").alias("z1"), zorder_value("c", "d").alias("z2")
    ).first()
    if (a, b) != (c, d):
        assert row.z1 != row.z2
    half = 2**15
    if a < half and b < half and c >= half and d >= half:
        assert row.z1 < row.z2


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40), min_size=1, max_size=5
    ),
    n=st.integers(2, 4),
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_shingles_match_python_reference(spark, texts, n):
    """The tokenize-once shingle expression (projected token array +
    transform/slice) equals a plain-Python reference on arbitrary
    space-delimited text — pins the round-3 rewrite that removed the
    per-position re-split (empty tokens from consecutive spaces
    included, exactly as split(text, ' ') produces them)."""
    from sheetsetl_spark.operators.dedup import shingles

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["shingle"])
        for r in shingles(df, n=n).collect()
    }
    want = set()
    for i, t in rows:
        w = t.split(" ")
        if len(w) >= n:
            for s in {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)}:
                want.add((i, s))
    assert got == want


# --- read-only guard: CTE-list scanner (r6) --------------------------------

_ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,8}", fullmatch=True)
_decoy_literal = st.sampled_from(
    ["'x'", "'INSERT INTO t'", "') INSERT'", "'it''s'", "'-- note'", "'a,b'"]
)


@st.composite
def _cte_statement(draw):
    """A randomized WITH statement: N CTEs (optional column lists, nested
    parens, keyword-bearing literals) and a main body that is either a
    query or DML. Returns (sql, is_read_only)."""
    n = draw(st.integers(1, 4))
    recursive = draw(st.booleans())
    parts = []
    for _ in range(n):
        name = draw(_ident)
        cols = draw(st.booleans())
        lit = draw(_decoy_literal)
        depth = draw(st.integers(0, 2))
        body = f"SELECT {'(' * depth}1 + 2{')' * depth} AS c, {lit} AS s"
        col_list = " (c, s)" if cols else ""
        parts.append(f"{name}{col_list} AS ({body})")
    main_is_query = draw(st.booleans())
    first = parts[0].split(" ", 1)[0].split("(")[0]
    if main_is_query:
        main = draw(
            st.sampled_from(
                [f"SELECT * FROM {first}", f"(SELECT * FROM {first})",
                 "VALUES (1)", f"TABLE {first}"]
            )
        )
    else:
        main = draw(
            st.sampled_from(
                [f"INSERT INTO tgt SELECT * FROM {first}",
                 "DELETE FROM tgt WHERE x = 1",
                 "UPDATE tgt SET x = 1",
                 "REPLACE INTO tgt SELECT 1",
                 "DROP TABLE tgt"]
            )
        )
    kw = "WITH RECURSIVE" if recursive else "WITH"
    comment = draw(st.sampled_from(["", "-- c\n", "/* c */ "]))
    return f"{comment}{kw} {', '.join(parts)} {main}", main_is_query


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(case=_cte_statement())
def test_read_only_guard_classifies_random_cte_statements(case):
    """The CTE scanner must classify EVERY generated WITH statement by
    its MAIN body — never fooled by keyword-bearing literals, column
    lists, nesting, or comments, in either direction."""
    from sheetsetl_spark.functions.mysql_compat import (
        UnsupportedMySQLConstruct,
        ensure_read_only,
    )

    sql, is_query = case
    if is_query:
        ensure_read_only(sql)  # must not raise
    else:
        try:
            ensure_read_only(sql)
            raise AssertionError(f"accepted CTE-prefixed DML: {sql!r}")
        except UnsupportedMySQLConstruct:
            pass


# --- edit-distance join: completeness + exactness on random corpora -------

_ED_WORDS = ["alpha", "beta", "gamma", "delta", "xx", "yzw", "batch"]
_ed_doc = st.lists(st.sampled_from(_ED_WORDS), min_size=2, max_size=8).map(
    " ".join
)


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_ed_doc, min_size=2, max_size=10),
    k=st.integers(1, 8),
)
def test_edit_distance_pairs_equals_bruteforce(spark, texts, k):
    """For ANY corpus and threshold, the filtered join must equal the
    brute-force DP exactly — completeness of the prefix/count/positional
    filters and absence of false pairs. Small-vocab random docs are the
    dense-gram adversarial case (SCALE.md batch-11)."""
    from sheetsetl_spark.operators.dedup import edit_distance_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in edit_distance_pairs(df, k=k, q=3).collect()
    }
    q = 3
    want = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1:]:
            if len(ta) < q or len(tb) < q:
                continue  # documented short-string exclusion
            d = _py_lev(ta, tb)
            if d <= k:
                want[tuple(sorted((ia, ib)))] = d
    assert got == want


def test_edit_distance_pairs_short_band_zero_shared_grams(spark):
    """Pinned r8 falsifier: with k=8, q=3 both 'alpha alpha' (11 chars,
    9 grams) and 'beta beta' (9 chars, 7 grams) have <= q*k grams, the
    count bound is vacuous, and the pair shares ZERO 3-grams — so only
    the short-band length-bucket path can produce it. Distance is
    exactly 8 (alpha->beta per word: 3 subs + 1 del = 4, twice)."""
    from sheetsetl_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(0, "alpha alpha"), (1, "beta beta"), (2, "alpha alpha")],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in edit_distance_pairs(df, k=8, q=3).collect()
    }
    assert got == {(0, 1): 8, (0, 2): 0, (1, 2): 8}


# --- prefix-filter Jaccard join: completeness + exactness -----------------

_PF_WORDS = ["a", "b", "c", "d", "e"]
_pf_doc = st.lists(st.sampled_from(_PF_WORDS), min_size=0, max_size=9).map(
    " ".join
)
# 25 words against their last 14: Jaccard 14/25 == 0.56 in doubles, while
# 0.56 * 25 rounds to 14.000000000000002, one ulp above the integer the
# prefix length is computed from.
_PF_ULP_CASE = [
    " ".join(f"w{i:02d}" for i in range(25)),
    " ".join(f"w{i:02d}" for i in range(11, 25)),
]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_pf_doc, min_size=2, max_size=10),
    n=st.integers(1, 3),
    threshold=st.floats(0.0, 1.0, exclude_min=True),
)
@example(texts=_PF_ULP_CASE, n=1, threshold=0.56)
def test_prefix_filter_jaccard_pairs_equals_bruteforce(spark, texts, n, threshold):
    """For ANY corpus, shingle size and threshold in (0, 1], the
    prefix-filtered join must equal the brute-force all-pairs Jaccard
    exactly. Small-vocab docs make the df distribution dense, and docs
    shorter than n words have no shingles and never pair."""
    from sheetsetl_spark.operators.dedup import prefix_filter_jaccard_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_a, r.doc_b): r.inter
        for r in prefix_filter_jaccard_pairs(df, threshold=threshold, n=n).collect()
    }

    def shset(t):
        w = t.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = [(i, shset(t)) for i, t in rows]
    want = {}
    for j, (ia, sa) in enumerate(sets):
        for ib, sb in sets[j + 1 :]:
            inter, union = len(sa & sb), len(sa | sb)
            if union and inter / union >= threshold:
                want[(ia, ib)] = inter
    assert got == want


# --- quantile normalization: brute-force mapping on random groups ----------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50)),
        min_size=1,
        max_size=20,
    )
)
def test_quantile_normalize_equals_bruteforce(spark, rows):
    from math import ceil

    from sheetsetl_spark.operators.profiling import quantile_normalize

    data = [(i, g, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id bigint, g string, v bigint")
    got = {r.id: r.norm_value for r in quantile_normalize(df, "g", "v", "id").collect()}

    glob = sorted((v, i) for i, g, v in data)
    n = len(data)
    want = {}
    for grp in {g for _, g, _ in data}:
        members = sorted((v, i) for i, g, v in data if g == grp)
        ng = len(members)
        for r, (_, i) in enumerate(members, 1):
            want[i] = glob[ceil(r * n / ng) - 1][0]
    assert got == want


# --- sorted-neighborhood: exact candidate set on random corpora ------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    names=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=4), min_size=2, max_size=12
    ),
    window=st.integers(2, 5),
)
def test_sorted_neighborhood_equals_bruteforce(spark, names, window):
    from sheetsetl_spark.operators.dedup import sorted_neighborhood_pairs

    data = [(i, nm) for i, nm in enumerate(names)]
    df = spark.createDataFrame(data, "k bigint, name string")
    got = {
        (r.k_a, r.k_b, r.gap)
        for r in sorted_neighborhood_pairs(
            df, ["name", "k"], window=window, payload_cols=["k"]
        ).collect()
    }
    order = [k for _, k in sorted((nm, k) for k, nm in data)]
    want = {
        (order[i], order[j], j - i)
        for i in range(len(order))
        for j in range(i + 1, min(i + window, len(order)))
    }
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)),
        min_size=1,
        max_size=40,
    )
)
def test_adamic_adar_matches_python_reference(spark, edges):
    """adamic_adar_bipartite == the direct Python computation (dedup
    memberships, per-group 1/ln(|g|) 6dp weights, decimal-style sums)
    on random bipartite graphs, including degenerate baskets."""
    import math
    from collections import defaultdict

    from sheetsetl_spark.operators.graph import adamic_adar_bipartite

    df = spark.createDataFrame(
        [(f"g{g}", f"i{i}") for g, i in edges], ["g", "item"]
    )
    got = {
        (r.item_a, r.item_b): (r.n_common, r.aa_score)
        for r in adamic_adar_bipartite(df, "g", "item", top=10000).collect()
    }

    groups = defaultdict(set)
    for g, i in edges:
        groups[g].add(f"i{i}")
    want: dict[tuple[str, str], list] = defaultdict(lambda: [0, 0.0])
    for members in groups.values():
        if len(members) < 2:
            continue
        term = math.floor(1.0 / math.log(len(members)) * 1e6 + 0.5) / 1e6
        ms = sorted(members)
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                want[(ms[x], ms[y])][0] += 1
                want[(ms[x], ms[y])][1] += term
    assert set(got) == set(want)
    for k, (n, s) in want.items():
        assert got[k][0] == n
        assert abs(got[k][1] - s) < 1e-9, (k, got[k], (n, s))


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    series=st.lists(
        st.tuples(st.integers(0, 1), st.integers(-99999, 99999).map(lambda c: c / 100.0)),
        min_size=1,
        max_size=30,
    )
)
def test_holt_fold_matches_python_reference(spark, series):
    """holt_by_key == the sequential Python recurrence bit-for-bit: the
    0.5 constants make every multiply exact, and CPython runs the same
    IEEE addition order as the JVM fold."""
    import math

    from sheetsetl_spark.operators.incremental import holt_by_key

    rows = [(f"k{k}", i, x) for i, (k, x) in enumerate(series)]
    df = spark.createDataFrame(rows, ["key", "i", "x"])
    got = {
        r.key: (r.n_points, r.level, r.trend, r.forecast_7)
        for r in holt_by_key(df, "key", "i", "x").collect()
    }

    def r6(v: float) -> float:
        return math.floor(v * 1e6 + 0.5) / 1e6

    per: dict[str, list[float]] = {}
    for k, i, x in rows:
        per.setdefault(k, []).append(x)  # i is already in insert order
    for k, xs in per.items():
        l = t = 0.0
        for x in xs:
            nl = 0.5 * x + 0.5 * (l + t)
            nt = 0.5 * ((0.5 * x + 0.5 * (l + t)) - l) + 0.5 * t
            l, t = nl, nt
        assert got[k] == (len(xs), r6(l), r6(t), r6(l + 7.0 * t)), k


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(-999, 999).map(lambda c: c / 100.0),
            st.integers(-999, 999).map(lambda c: c / 100.0),
            st.integers(-999, 999).map(lambda c: c / 100.0),
        ),
        min_size=2,
        max_size=25,
        unique=True,
    )
)
def test_kcenter_matches_python_greedy(spark, vecs):
    """kcenter_coreset == the pure-Python farthest-point traversal with
    the same left-fold distances and (value, id) tie-breaks."""
    import math

    from sheetsetl_spark.operators.similarity import kcenter_coreset

    k = min(4, len(vecs))
    df = spark.createDataFrame(
        [(i, list(v)) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    got = [
        (r.sel_rank, r.vec_id, r.d2_at_selection)
        for r in sorted(
            kcenter_coreset(df, k=k).collect(), key=lambda r: r.sel_rank
        )
    ]

    def fold(items):
        acc = 0.0
        for v in items:
            acc = acc + v
        return acc

    def d2(a, b):
        return fold([(x - y) * (x - y) for x, y in zip(a, b)])

    def r6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    pts = {i: list(v) for i, v in enumerate(vecs)}
    norm = {i: fold([x * x for x in v]) for i, v in pts.items()}
    seed = max(pts, key=lambda i: (norm[i], -i))
    want = [(1, seed, 0.0)]
    mind = {i: d2(v, pts[seed]) for i, v in pts.items()}
    for r in range(2, k + 1):
        nxt = max(pts, key=lambda i: (mind[i], -i))
        want.append((r, nxt, r6(mind[nxt])))
        for i, v in pts.items():
            mind[i] = min(mind[i], d2(v, pts[nxt]))
    assert got == want
