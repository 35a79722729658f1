"""Fixed-point PageRank (operators/graph.py): hand-checked chains,
dangling-mass redistribution, and a hypothesis fuzz against an
independent Python replay of the integer update rule."""

from hypothesis import given, settings, strategies as st

from easydb_server_spark.operators.graph import RANK_SCALE, pagerank


def ref_pagerank(edges, iterations):
    """Independent integer replay of the documented update rule."""
    edges = sorted(set(edges))
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    r = {v: RANK_SCALE // n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] // out[u]
        dang = sum(r[u] for u in nodes if u not in out)
        r = {
            v: (3 * RANK_SCALE) // (20 * n) + (17 * (contrib[v] + dang // n)) // 20
            for v in nodes
        }
    return r


def _run(spark, edges, iterations=3):
    df = spark.createDataFrame(edges, ["s", "d"])
    return {r.node: r.rank for r in pagerank(df, "s", "d", iterations).collect()}


def test_two_node_cycle_is_symmetric(spark):
    got = _run(spark, [(1, 2), (2, 1)], iterations=4)
    assert got[1] == got[2]
    assert got == ref_pagerank([(1, 2), (2, 1)], 4)


def test_sink_attracts_mass(spark):
    # 1->3, 2->3: the sink node must outrank its two feeders
    got = _run(spark, [(1, 3), (2, 3)])
    assert got[3] > got[1] == got[2]
    assert got == ref_pagerank([(1, 3), (2, 3)], 3)


def test_dangling_mass_redistributes(spark):
    # node 3 dangles; without redistribution its inflow would vanish
    # from the system and total mass would collapse toward (1-d)
    got = _run(spark, [(1, 2), (2, 3)], iterations=5)
    total = sum(got.values())
    # floor truncation leaks a few units per node per iteration, never more
    assert RANK_SCALE * 0.999 < total <= RANK_SCALE
    assert got == ref_pagerank([(1, 2), (2, 3)], 5)


def test_duplicate_edges_collapse(spark):
    a = _run(spark, [(1, 2), (1, 2), (2, 1)])
    b = _run(spark, [(1, 2), (2, 1)])
    assert a == b


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 4),
)
def test_matches_reference_replay(spark, edges, iterations):
    assert _run(spark, edges, iterations) == ref_pagerank(edges, iterations)


def test_driver_and_distributed_paths_agree(spark, monkeypatch):
    """r16 driver-dispatch lock (the CC/BPE differential pattern):
    the SAME graphs through the numpy driver replay and, with the
    bound forced to 0, the distributed superstep — ranks must be
    bit-identical, including a dangling-heavy and a multi-component
    graph."""
    from easydb_server_spark.operators import graph as G

    graphs = [
        [(1, 2), (2, 1)],
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (5, 6)],
        [(1, 3), (2, 3), (3, 4)],  # chain into a dangling sink
        [(i, (i * 7) % 23 + 100) for i in range(40)],
    ]
    for edges in graphs:
        driver = _run(spark, edges, iterations=3)
        monkeypatch.setattr(G, "DRIVER_PR_MAX_EDGES", 0)
        dist = _run(spark, edges, iterations=3)
        monkeypatch.undo()
        assert driver == dist == ref_pagerank(edges, 3)
