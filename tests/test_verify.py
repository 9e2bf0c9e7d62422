"""The verify stage's exact Jaccard is a JVM expression
(operators/verify.exact_jaccard).  Edge parity with tests/oracle.py rides on
it returning EXACTLY what the NumPy kernel kernels.jaccard_sorted returns on
the same two sorted unique shingle sets — compared with ==, not approx.
verify_pairs decides each proposing lane of a pair on those exact values,
deriving every endpoint's shingles in one Python pass."""

from __future__ import annotations

import numpy as np
import pytest

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig
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


def _shingles(text: str, k: int) -> np.ndarray:
    return K.shingle_hashes(K.hash_tokens(K.tokenize(text)), k)


def _verify_hand_built(spark):
    """Five docs, hand-set simhashes and suffix tuples, real texts.
    doc 1 vs 2: low word overlap (Jaccard < 0.5) but simhash 3 bits apart;
    doc 3 vs 4: share the k1 key 10 but not the (k1, k2) tuple;
    doc 3 vs 5: share the full (10, 1) tuple.
    Docs 3-5 have equal simhashes, which must not matter: only the lanes
    that proposed a pair can accept it."""
    from qalsh_spark.operators.banding import LANE_MINHASH, LANE_SIMHASH, LANE_SUFFIX
    from qalsh_spark.operators.verify import verify_pairs

    words = [f"w{i}" for i in range(10)]
    texts = {
        1: " ".join(words),
        2: " ".join(words[:5] + [f"x{i}" for i in range(5)]),
        3: "the quick brown fox jumps over the lazy dog",
        4: "a completely different sentence about other things",
        5: "yet another text with nothing in common here",
    }
    sigs = [
        (1, 0b000, [], []),
        (2, 0b111, [], []),
        (3, 0, [10, 20], [1, 2]),
        (4, 0, [10, 30], [9, 3]),
        (5, 0, [10], [1]),
    ]
    pairs = [
        (1, 2, LANE_MINHASH),
        (1, 2, LANE_SIMHASH),
        (3, 4, LANE_SUFFIX),
        (3, 5, LANE_SUFFIX),
    ]
    cfg = DedupConfig()
    out = verify_pairs(
        spark.createDataFrame(pairs, "a long, b long, lane_id tinyint"),
        spark.createDataFrame(
            sigs,
            "doc_id long, simhash long, suffix_keys array<long>, "
            "suffix_checks array<long>",
        ),
        cfg,
        spark.createDataFrame(list(texts.items()), "doc_id long, text string"),
    )
    return out, texts, cfg


def test_verify_decides_each_lane_on_exact_values(spark):
    out, texts, cfg = _verify_hand_built(spark)
    got = {(r.a, r.b): r for r in out.collect()}
    assert set(got) == {(1, 2), (3, 5)}  # (3, 4) shares k1 but no (k1, k2)

    want = K.jaccard_sorted(
        _shingles(texts[1], cfg.shingle_k), _shingles(texts[2], cfg.shingle_k)
    )
    assert 0.0 < want < cfg.jaccard_threshold
    assert got[(1, 2)].lanes == ["simhash"]
    assert got[(1, 2)].hamming == 3
    assert got[(1, 2)].jaccard == want

    assert got[(3, 5)].lanes == ["suffix"]
    assert got[(3, 5)].jaccard == K.jaccard_sorted(
        _shingles(texts[3], cfg.shingle_k), _shingles(texts[5], cfg.shingle_k)
    )


def _python_evals(spark, plan, seen: set) -> int:
    """ArrowEvalPython nodes that run for an executed plan: AQE's final plan,
    each query stage's plan, each cached relation's plan once (however many
    scans read it); a reused exchange runs nothing again."""
    name = plan.nodeName()
    if name == "ReusedExchange":
        return 0
    if name == "AdaptiveSparkPlan":
        kids = [plan.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [plan.plan()]
    elif name == "InMemoryTableScan":
        builder = plan.relation().cacheBuilder()
        key = spark._jvm.System.identityHashCode(builder)
        kids = [] if key in seen else [builder.cachedPlan()]
        seen.add(key)
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.length())]
    return (name == "ArrowEvalPython") + sum(
        _python_evals(spark, k, seen) for k in kids
    )


@pytest.mark.parametrize("broadcast", [True, False])
def test_verify_derives_shingles_in_one_python_pass(spark, broadcast):
    """Small inputs broadcast the shingle table, large ones shuffle it for a
    sort-merge join; either way each endpoint's shingles are derived once."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if not broadcast:
        spark.conf.set(key, "-1")
    try:
        out, _, _ = _verify_hand_built(spark)
        out.collect()
    finally:
        spark.conf.set(key, prev)
    plan = out._jdf.queryExecution().executedPlan()
    assert _python_evals(spark, plan, set()) == 1, plan.toString()
