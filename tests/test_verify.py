"""The verify stage's exact Jaccard is a JVM expression
(operators/verify.exact_jaccard).  Edge parity with tests/oracle.py rides on
it returning EXACTLY what the NumPy kernel kernels.jaccard_sorted returns on
the same two sorted unique shingle sets — compared with ==, not approx."""

from __future__ import annotations

import numpy as np

from qalsh_spark import kernels as K
from qalsh_spark.operators.verify import exact_jaccard

INT64 = (-(2**63), 2**63 - 1)


def _jvm_jaccard(spark, pairs: list[tuple]) -> list[float]:
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a array<long>, b array<long>",
    )
    rows = df.select("i", exact_jaccard("a", "b").alias("j")).collect()
    return [r["j"] for r in sorted(rows, key=lambda r: r["i"])]


def _want(a, b) -> float:
    if a is None or b is None:
        return 0.0
    return K.jaccard_sorted(np.array(a, np.int64), np.array(b, np.int64))


def _sorted_unique(rng, n: int, pool: np.ndarray | None = None) -> list[int]:
    if pool is None:
        x = rng.integers(*INT64, size=n, dtype=np.int64, endpoint=True)
    else:
        x = rng.choice(pool, size=min(n, len(pool)), replace=False)
    return np.unique(x).tolist()


def test_exact_jaccard_edge_cases_and_shingle_sized_sets(spark):
    rng = np.random.default_rng(11)
    sentinel = int(K.shingle_hashes(np.array([], np.uint64)).view(np.int64)[0])
    s = _sorted_unique(rng, 300)
    pairs = [
        ([], []),  # two empty sets -> 1.0
        ([], [1, 2, 3]),
        ([5], [5]),
        ([sentinel], [sentinel]),  # two empty docs
        ([sentinel], s),  # empty doc vs a real one
        (s, s),  # identical
        (s, _sorted_unique(rng, 300)),  # disjoint
        ([INT64[0], -1, 0, INT64[1]], [INT64[0], 0, INT64[1]]),
        (None, s),  # null side (doc was not a candidate)
        (s, None),
        (None, None),
    ]
    # shingle-set sizes with heavy overlap: the denominators where a
    # differently-rounded division would first show
    for _ in range(200):
        pool = rng.integers(*INT64, size=int(rng.integers(2, 3000)), dtype=np.int64)
        pairs.append(
            (
                _sorted_unique(rng, int(rng.integers(1, 2000)), pool),
                _sorted_unique(rng, int(rng.integers(1, 2000)), pool),
            )
        )
    got = _jvm_jaccard(spark, pairs)
    for (a, b), g in zip(pairs, got):
        assert g == _want(a, b), (a, b, g, _want(a, b))


def test_exact_jaccard_property_vs_kernel(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    elems = st.one_of(st.integers(-40, 40), st.integers(*INT64))
    sets = st.lists(elems, max_size=40, unique=True).map(sorted)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.tuples(sets, sets), min_size=1, max_size=40))
    def check(pairs):
        got = _jvm_jaccard(spark, pairs)
        for (a, b), g in zip(pairs, got):
            assert g == _want(a, b), (a, b, g, _want(a, b))

    check()
