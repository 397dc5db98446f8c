"""Connected components: chains (worst case), stars, random graphs vs
a pure-Python union-find oracle, isolated vertices, empty edges."""

import random

from medtype_spark.operators.cc import connected_components


def _uf_oracle(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _check(spark, edges, nodes=None):
    all_nodes = set()
    for a, b in edges:
        all_nodes.update((a, b))
    if nodes:
        all_nodes.update(nodes)
    edf = spark.createDataFrame(edges or [("x", "x")], ["src", "dst"])
    if not edges:
        edf = edf.limit(0)
    vdf = spark.createDataFrame([(n,) for n in sorted(all_nodes)], ["node"]) if all_nodes else None
    want = _uf_oracle(edges, all_nodes)
    # both execution paths must agree with the oracle AND each other:
    # the driver-side union-find (small_graph cutover) and the
    # distributed alternating-star rounds (threshold=0 forces them for
    # any non-empty edge set)
    for threshold in (1_000_000, 0):
        got = {
            r["node"]: r["component"]
            for r in connected_components(
                edf, vertices=vdf, small_graph_threshold=threshold
            ).collect()
        }
        assert got == want, f"threshold={threshold}"


def test_long_chain(spark):
    # path graph: naive min-propagation needs O(n) rounds; the
    # alternating algorithm must converge well under MAX_ITER=50
    n = 200
    edges = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n - 1)]
    _check(spark, edges)


def test_two_components_and_isolated(spark):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    _check(spark, edges, nodes={"lonely"})


def test_star_and_cycle(spark):
    edges = [("h", f"s{i}") for i in range(10)] + [("c1", "c2"), ("c2", "c3"), ("c3", "c1")]
    _check(spark, edges)


def test_random_graph_vs_union_find(spark):
    rng = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(120)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(150)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges, nodes=set(nodes))


def test_empty_edges(spark):
    _check(spark, [], nodes={"a", "b"})


def test_stats_report_the_path_taken(spark):
    edf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "b"), ("c", "c")], ["src", "dst"]
    )
    vdf = spark.createDataFrame([("a",), ("z",)], ["node"])
    # (expected path, edges, threshold, expected n_edges); an empty edge
    # set is a complete probe of size 0, so it takes the small path
    runs = [
        ("small", edf.limit(0), 0, 0),
        ("small", edf, 1_000_000, 2),
        ("distributed", edf, 0, None),
    ]
    for path, edges, threshold, n_edges in runs:
        stats: dict = {}
        connected_components(
            edges, vertices=vdf, small_graph_threshold=threshold, stats=stats
        )
        assert stats["path"] == path, stats
        if path == "distributed":
            # a-b, b-c is a star forest after one round
            assert stats["rounds"] == 1 and "n_edges" not in stats, stats
        else:
            # duplicates and self-loops are not counted
            assert stats["n_edges"] == n_edges, stats
