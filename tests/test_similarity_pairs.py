"""cosine_pairs_blocked's Arrow kernel vs the self-join it replaced.

The reference below is the join form built from `_cosine_pre` (norms
hoisted, equi-join on the block, a_id < b_id, 6-dp round, threshold
filter). The kernel must return exactly its (a_id, b_id, cos) rows, NaN
included, on adversarial inputs, across tiles and on rounding
boundaries. Also pins the zero-norm fix shared by every cosine scorer:
a zero-norm side scores NULL instead of raising DIVIDE_BY_ZERO.
"""

from __future__ import annotations

import math
import random

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from epss_spark.operators import similarity

SCHEMA = "vec_id long, label int, embedding array<float>"
NAN, INF = float("nan"), float("inf")


def _reference(vectors, block_col, threshold, id_col="vec_id", vec_col="embedding"):
    def side(tag):
        return vectors.select(
            F.col(block_col).alias("__blk"),
            F.col(id_col).alias(f"{tag}_id"),
            F.col(vec_col).alias(f"__{tag}v"),
            similarity._norm(F.col(vec_col)).alias(f"__{tag}n"),
        )

    return (
        side("a")
        .join(side("b"), "__blk")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            similarity._cosine_pre(
                F.col("__av"), F.col("__bv"), F.col("__an"), F.col("__bn")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _rows(df):
    """Order-free, NaN-comparable rows (NaN != NaN, so it becomes a tag)."""
    return sorted(
        (r.a_id, r.b_id, "NaN" if r.cos != r.cos else r.cos) for r in df.collect()
    )


def _assert_same(vectors, block_col, thresholds, **kw):
    for t in thresholds:
        got = _rows(similarity.cosine_pairs_blocked(vectors, block_col, t, **kw))
        want = _rows(_reference(vectors, block_col, t, **kw))
        assert got == want, f"threshold {t}"


ADVERSARIAL = [
    (1, 0, [1.0, 2.0, 3.0]),
    (2, 0, [1.0, 2.0, 3.1]),
    (3, 0, [NAN, 1.0, 1.0]),  # NaN element: NaN scores pass every threshold
    (4, 0, [INF, 1.0, 1.0]),
    (5, 0, [-INF, 0.5, 1.0]),
    (6, 0, None),  # NULL vector
    (7, 0, [1.0, None, 2.0]),  # NULL element (pandas would see NaN)
    (8, 0, [1.0, 2.0]),  # length mismatch with the 3-vectors
    (9, 0, [2.0, 4.0]),
    (10, 0, [0.0, 0.0, 0.0]),  # zero norm
    (11, 0, []),  # two empty arrays: 0 / 0
    (12, 0, []),
    (13, None, [1.0, 2.0, 3.0]),  # NULL block
    (None, 0, [1.0, 2.0, 3.0]),  # NULL id
    (2, 0, [1.0, 2.0, 3.0]),  # duplicate id
    (20, 1, [1.0, 1.0, 1.0]),
    (21, 1, [1.0, 1.0, 1.0]),
    (22, 1, [-1.0, 1.0, 0.5]),
]


def test_pairs_kernel_equals_join_on_adversarial_rows(spark):
    """NaN, +-Inf, NULL vector, NULL element, length mismatch, NULL block,
    NULL id, duplicate ids, zero norm and empty arrays: the kernel's
    (a_id, b_id, cos) rows equal the join's exactly, at an open, a
    middle, a tight and a NaN threshold; an empty frame gives no rows.
    The plan is one grouped Arrow pass with no join."""
    df = spark.createDataFrame(ADVERSARIAL, SCHEMA)
    _assert_same(df, "label", [-1.0, 0.5, 0.99, NAN])
    got = _rows(similarity.cosine_pairs_blocked(df, "label", -1.0))
    pairs = {p[:2] for p in got}
    assert (20, 21, 1.0) in got and (1, 3, "NaN") in got
    # a zero norm scores NULL against finite vectors; against a NaN or
    # Inf one the norm product is 0 * NaN = NaN, which the join keeps too
    assert not pairs & {(1, 10), (2, 10), (11, 12)} and (3, 10) in pairs
    plan = (
        similarity.cosine_pairs_blocked(df, "label", 0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in plan and "Join" not in plan
    empty = spark.createDataFrame([], SCHEMA)
    assert similarity.cosine_pairs_blocked(empty, "label", -1.0).collect() == []


def test_pairs_kernel_string_ids_and_double_vectors(spark):
    """Non-long ids compare in Spark's order (strings by code point) and
    array<double> / array<int> vectors take _dot's casts."""
    rows = [
        ("b", "x", [1.0, 2.0]), ("a", "x", [1.0, 2.5]), ("ä", "x", [1.5, 2.0]),
        ("B", "x", [0.5, 2.0]), ("a", "y", [3.0, 1.0]), ("c", "y", [3.0, 1.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, label string, embedding array<double>")
    _assert_same(df, "label", [-1.0, 0.9])
    ints = spark.createDataFrame(
        [(1, 0, [1, 2, 3]), (2, 0, [2, 2, 3]), (3, 0, [0, 0, 0])],
        "vec_id long, label int, embedding array<int>",
    )
    _assert_same(ints, "label", [-1.0])


def test_pairs_kernel_spans_tiles(spark, monkeypatch):
    """A block larger than one tile (tile budget shrunk to 3 x 3 rows):
    every tile pair on and above the diagonal is scored, none twice."""
    monkeypatch.setattr(similarity, "PAIR_TILE_CELLS", 9)
    rng = random.Random(7)
    rows = [
        (i, i % 2, [rng.uniform(-1.0, 1.0) for _ in range(5)]) for i in range(23)
    ]
    rows.append((3, 1, [0.1, 0.2, 0.3, 0.4, 0.5]))  # duplicate id across tiles
    df = spark.createDataFrame(rows, SCHEMA)
    _assert_same(df, "label", [-1.0, 0.3])
    n = len(_rows(similarity.cosine_pairs_blocked(df, "label", -1.0)))
    assert n == 66 + 65  # 12 rows a block; block 1 holds id 3 twice


def _fold_ratio(a, b):
    """dot / (|a| |b|) with the sequential float64 folds of _dot."""
    def dot(x, y):
        acc = 0.0
        for p, q in zip(x, y):
            acc += p * q
        return acc

    return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))


def test_pairs_kernel_threshold_on_rounding_boundary(spark):
    """Thresholds equal to a pair's 6-dp score whose raw ratio lies BELOW
    the threshold (it rounds up to it): the pair is kept, as in the join,
    and one step of 1e-6 higher drops it."""
    import numpy as np

    rng = random.Random(11)
    vecs = [
        [float(np.float32(rng.uniform(-1.0, 1.0))) for _ in range(4)] for _ in range(40)
    ]
    df = spark.createDataFrame([(i, 0, v) for i, v in enumerate(vecs)], SCHEMA)
    scored = {(r.a_id, r.b_id): r.cos for r in _reference(df, "label", -1.0).collect()}
    rounded_up = [
        (p, c) for p, c in scored.items() if _fold_ratio(vecs[p[0]], vecs[p[1]]) < c
    ]
    assert rounded_up
    (pair, c), *_ = sorted(rounded_up, key=lambda pc: -pc[1])
    _assert_same(df, "label", [c, c + 1e-6, c - 1e-6])

    def kept(t):
        return {p[:2] for p in _rows(similarity.cosine_pairs_blocked(df, "label", t))}

    assert pair in kept(c) and pair not in kept(c + 1e-6)


_elem = st.sampled_from([0.0, 1.0, -1.0, 0.5, 2.0, 1e-3, NAN, INF, -INF, None])
_vec = st.none() | st.lists(_elem, min_size=0, max_size=3)
_row = st.tuples(
    st.none() | st.integers(0, 6), st.none() | st.integers(0, 1), _vec
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(st.lists(_row, min_size=0, max_size=12), st.sampled_from([-1.0, 0.0, 0.7]))
def test_pairs_kernel_property_small_blocks(spark, rows, threshold):
    """Random small blocks over repeated ids, NULL ids/blocks/vectors and
    elements, NaN/+-Inf, zero and ragged vectors: kernel == join."""
    _assert_same(spark.createDataFrame(rows, SCHEMA), "label", [threshold])


def test_zero_norm_scores_null_in_every_cosine_scorer(spark):
    """An all-zero vector (and a pair of empty arrays) used to fail the
    whole query with DIVIDE_BY_ZERO under ANSI. Now a zero-norm side
    scores NULL: the threshold scorers never emit it, cosine_topk ranks
    it last with cos NULL (the DuckDB oracle's NULLS LAST order)."""
    vecs = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, [0.0, 0.0]), (2, 0, [0.9, 0.1]),
         (3, 1, []), (4, 1, [])],
        SCHEMA,
    )
    pairs = _rows(similarity.cosine_pairs_blocked(vecs, "label", -1.0))
    assert [p[:2] for p in pairs] == [(0, 2)]
    assert pairs == _rows(_reference(vecs, "label", -1.0))

    top = similarity.cosine_topk(vecs.filter("vec_id = 0"), vecs.filter("label = 0"), k=5)
    got = sorted((r.rank, r.cand_id, r.cos) for r in top.collect())
    assert [g[:2] for g in got] == [(1, 2), (2, 1)] and got[1][2] is None

    eval_vecs = spark.createDataFrame(
        [(100, [0.0, 0.0]), (101, [1.0, 0.01])], "vec_id long, embedding array<float>"
    )
    hits = similarity.semantic_decontam_hits(
        vecs.filter("label = 0"), eval_vecs, [[1.0, 0.0], [0.0, 1.0]], threshold=-1.0
    )
    assert sorted((r.corpus_id, r.eval_id) for r in hits.collect()) == [
        (0, 101), (2, 101),
    ]
