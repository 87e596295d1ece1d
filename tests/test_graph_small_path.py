"""Small-graph fast paths: every iterative graph operator runs a
single-task exact kernel (union-find / in-memory peel / integer
iteration via one mapInPandas task) when its materialized edge count is
at/below GRAPH_SMALL_MAX_ROWS. These tests run each operator twice —
$SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS unset (the fast path at these sizes)
and pinned at 0 (the distributed form) — on randomized graphs
(including the bit-sensitive pagerank decimal trajectory) and on the
named edge cases below, and assert equal rows or the same exception
type and message.

The distributed forms additionally stay DuckDB-oracle-verified by the
parity sweep run with the env knob at 0."""

from __future__ import annotations

import random

import pytest

from powerdatapipeline_spark.operators import graph as gr

ENV = "SPARK_GRAFT_GRAPH_SMALL_MAX_ROWS"

#: Named edge lists run through every operator on both forms, beside
#: the integer-seeded random graphs: (pairs, id type).
CASES = {
    "empty": ([], "bigint"),
    "duplicates": ([(1, 2), (1, 2), (2, 1), (2, 3), (2, 3), (3, 1),
                    (3, 1)], "bigint"),
    "self_loops": ([(1, 1), (1, 2), (2, 1), (2, 2), (2, 3), (3, 1),
                    (4, 4)], "bigint"),
    "strings": ([("b", "a"), ("a", "b"), ("c", "b"), ("b", "c"),
                 ("c", "a"), ("a", "c"), ("x", "y"), ("y", "x")],
                "string"),
    "null_endpoint": ([(1, 2), (2, 1), (2, None), (None, 3), (3, 1),
                       (1, 3)], "bigint"),
}


@pytest.fixture(scope="module")
def spark():
    from powerdatapipeline_spark.session import get_spark
    s = get_spark("test_graph_small_path", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture
def both_forms(monkeypatch):
    """``run(call)`` → ``(fast, dist)``: the outcome of ``call()`` with
    the env knob unset and pinned at 0. An outcome is ``("rows",
    sorted rows)`` or ``("raises", exception type, message)``."""
    def outcome(call):
        try:
            return ("rows", _rows(call()))
        except Exception as ex:
            return ("raises", type(ex), str(ex))

    def run(call):
        monkeypatch.delenv(ENV, raising=False)
        fast = outcome(call)
        monkeypatch.setenv(ENV, "0")
        return fast, outcome(call)

    return run


def _edges(spark, pairs, typ="bigint"):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], f"src {typ}, dst {typ}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _random_graph(seed, n_nodes=40, n_edges=80):
    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


def _graph(spark, seed, **random_kw):
    """A named CASES edge list, or the random graph of an int seed."""
    if isinstance(seed, str):
        return _edges(spark, *CASES[seed])
    return _edges(spark, _random_graph(seed, **random_kw))


def _assert_agree(fast, dist):
    assert fast == dist
    assert fast[0] == "rows", fast


@pytest.mark.parametrize("seed", [1, 2, 3, *CASES])
def test_cc_fast_equals_distributed(spark, both_forms, seed):
    e = _graph(spark, seed)
    _assert_agree(*both_forms(lambda: gr.connected_components(e)))


def test_cc_fast_handles_self_loops_and_strings(spark, both_forms):
    pairs = [("b", "a"), ("c", "b"), ("x", "x"), ("m", "z"), ("z", "q")]
    e = _edges(spark, pairs, typ="string")
    fast, dist = both_forms(lambda: gr.connected_components(e))
    _assert_agree(fast, dist)
    got = dict(fast[1])
    assert got["x"] == "x" and got["c"] == "a" and got["q"] == "m"


@pytest.mark.parametrize("seed,iterations", [(1, 1), (2, 3), (3, 5),
                                             (4, 6),
                                             *[(c, 3) for c in CASES]])
def test_pagerank_fast_bit_identical(spark, both_forms, seed, iterations):
    # the decimal trajectory (6-rounded vectors, 12-decimal HALF_UP
    # contributions) must match the distributed unroll BIT FOR BIT,
    # not approximately
    if isinstance(seed, str):
        e = _graph(spark, seed)  # every CASES node has an out-edge
    else:
        # symmetrize so the dangling guard passes
        raw = _random_graph(seed, n_nodes=30, n_edges=60)
        pairs = [(a, b) for a, b in raw if a != b]
        e = _edges(spark, list(dict.fromkeys(
            pairs + [(b, a) for a, b in pairs])))
    fast, dist = both_forms(lambda: gr.pagerank(e, iterations=iterations))
    if seed == "null_endpoint":
        # rejected loudly on both forms, never ranked
        assert fast == dist == ("raises", ValueError, gr._NULL_ID_MSG)
    else:
        _assert_agree(fast, dist)


def test_pagerank_fast_dangling_raises(spark, both_forms):
    e = _edges(spark, [(1, 2), (2, 3)])  # 3 has no out-edge
    fast, dist = both_forms(lambda: gr.pagerank(e))
    assert fast == dist == ("raises", ValueError, gr._DANGLING_MSG)
    assert "without out-edges" in fast[2]


@pytest.mark.parametrize("seed,k", [(1, 2), (2, 3), (3, 2),
                                    *[(c, 2) for c in CASES]])
def test_kcore_fast_equals_distributed(spark, both_forms, seed, k):
    e = _graph(spark, seed, n_nodes=25, n_edges=70)
    _assert_agree(*both_forms(lambda: gr.k_core(e, k=k)))


def test_kcore_fast_keeps_round_budget_raise(spark, both_forms):
    # a long path peels one layer per synchronous round — the fast
    # path must exhaust max_rounds exactly like the distributed form
    chain = _edges(spark, [(i, i + 1) for i in range(30)])
    fast, dist = both_forms(lambda: gr.k_core(chain, k=2, max_rounds=1))
    assert fast == dist
    assert fast[:2] == ("raises", RuntimeError) and "max_rounds" in fast[2]


@pytest.mark.parametrize("seed,rounds", [(1, 1), (2, 2), (3, 3),
                                         *[(c, 2) for c in CASES]])
def test_hits_fast_equals_distributed(spark, both_forms, seed, rounds):
    e = _graph(spark, seed, n_nodes=20, n_edges=60)
    _assert_agree(*both_forms(
        lambda: gr.hits_scores(e, rounds=rounds, top_k=50)))


def test_hits_fast_keeps_overflow_guard(spark, both_forms):
    hub = _edges(spark, [(i, 0) for i in range(2100)]
                 + [(0, i + 10_000) for i in range(2100)])
    fast, dist = both_forms(lambda: gr.hits_scores(hub, rounds=4))
    assert fast == dist
    assert fast[:2] == ("raises", ValueError) and "exceeds int64" in fast[2]


@pytest.mark.parametrize("seed,rounds", [(1, 1), (2, 2), (3, 4),
                                         *[(c, 2) for c in CASES]])
def test_lpa_fast_equals_distributed(spark, both_forms, seed, rounds):
    e = _graph(spark, seed, n_nodes=30, n_edges=70)
    _assert_agree(*both_forms(
        lambda: gr.label_propagation(e, rounds=rounds, top_k=100)))


def test_lpa_fast_string_nodes(spark, both_forms):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("p", "q"), ("q", "p")]
    e = _edges(spark, pairs, typ="string")
    _assert_agree(*both_forms(
        lambda: gr.label_propagation(e, rounds=2, top_k=10)))


@pytest.mark.parametrize("seed", [1, 2, 3, *CASES])
def test_triangle_fast_equals_distributed(spark, both_forms, seed):
    e = _graph(spark, seed, n_nodes=25, n_edges=70)
    _assert_agree(*both_forms(lambda: gr.triangle_count(e)))


def test_triangle_fast_hub_and_strings(spark, both_forms):
    pairs = ([("h", f"n{i}") for i in range(30)]
             + [(f"n{i}", f"n{i + 1}") for i in range(29)])
    e = _edges(spark, pairs, typ="string")
    _assert_agree(*both_forms(lambda: gr.triangle_count(e)))


def test_env_zero_disables_fast_paths(monkeypatch):
    monkeypatch.setenv(ENV, "0")
    assert gr._small_max_rows() == 0
    monkeypatch.setenv(ENV, "123")
    assert gr._small_max_rows() == 123
    # the hard int64-headroom cap bounds the env value
    monkeypatch.setenv(ENV, str(10 ** 9))
    assert gr._small_max_rows() == gr._FAST_PATH_HARD_MAX_ROWS
    monkeypatch.delenv(ENV)
    assert gr._small_max_rows() == gr.GRAPH_SMALL_MAX_ROWS


def test_round_half_up_matches_spark_semantics():
    # shortest-repr HALF_UP — the replay-model identity (tests/_hyp)
    assert gr._round_half_up(0.1234565, 6) == 0.123457  # HALF_UP, not half-even
    assert gr._round_half_up(2.5e-7, 6) == 0.0  # .00000025 < half a quantum
    assert gr._round_half_up(1.0 / 3.0, 6) == 0.333333
