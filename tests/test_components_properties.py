"""Property test: `dedup_components` must agree with a driver-side
union-find on arbitrary random graphs — the min-reachable-id fixpoint IS
the connected-components partition with min-id representatives. Both
routes (driver union-find and alternating star contraction, forced with
``small_graph_edges=0``) are held to the same reference."""

import pytest

# r15 slow tier (VERDICT r14 #2): hypothesis connected-components convergence —
# excluded from the default (driver-verify) run by pytest.ini's
# `-m "not slow"`; run with `-m slow` (round-close evidence in
# OPTIMIZATION_r15.md).
pytestmark = pytest.mark.slow

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from manifold_spark.operators.dedup import (
    LAST_COMPONENTS_INFO,
    dedup_components,
)


def _union_find_reference(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # representative = min node id in component
    comp_min = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min.setdefault(r, v)  # v ascends, first hit is the min
    return {v: comp_min[find(v)] for v in range(n_nodes)}


@given(
    data=st.tuples(
        st.integers(min_value=2, max_value=25),
        st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=40),
    )
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_components_match_union_find(spark, data):
    n, raw_edges = data
    edges = [(a % n, b % n) for a, b in raw_edges if a % n != b % n]
    expected = _union_find_reference(n, edges)

    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    if edges:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    else:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_components(ids, pairs).collect()
    }
    assert got == expected
    # these graphs are tiny, so 'auto' must have routed to the driver path
    assert LAST_COMPONENTS_INFO["backend"] == "driver"


@given(
    data=st.tuples(
        st.integers(min_value=2, max_value=25),
        st.lists(st.tuples(st.integers(0, 24), st.integers(0, 24)), max_size=40),
    )
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_star_backend_matches_union_find(spark, data):
    n, raw_edges = data
    edges = [(a % n, b % n) for a, b in raw_edges if a % n != b % n]
    expected = _union_find_reference(n, edges)

    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    if edges:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    else:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_components(ids, pairs, small_graph_edges=0).collect()
    }
    assert got == expected


def _path_graph(spark, n):
    """0-1-2-...-(n-1): diameter n-1 — the worst case for any one-hop
    propagation scheme, the motivating case for star contraction."""
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    return ids, pairs


def test_star_backend_logarithmic_on_path(spark):
    # Star contraction resolves a 30-node path (diameter 29) in O(log n)
    # rounds.
    ids, pairs = _path_graph(spark, 30)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_components(ids, pairs, small_graph_edges=0, max_iters=12).collect()
    }
    assert got == {i: 0 for i in range(30)}
    assert LAST_COMPONENTS_INFO["backend"] == "star"
    # log2(30) ≈ 5; allow slack for the +1 fixed-point confirmation round
    assert LAST_COMPONENTS_INFO["rounds"] <= 10


def test_star_rounds_and_jobs_bounded(spark):
    """The star loop costs ONE Spark action per round (the signature
    collect that also materializes the round's checkpoint), and a shallow
    graph converges in two rounds (one to the fixpoint, one to confirm
    it) — pin both so a per-consumer recompute or an extra action per
    round can't silently creep back in."""
    sc = spark.sparkContext
    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    # diameter-2 chain + one disjoint pair
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    # AQE runs each exchange stage as its own job, and so does every
    # broadcast exchange (the route count materializes the pair cache,
    # whose tiny size statistics turn every star join into a broadcast:
    # 56 of the 63 jobs with broadcasts on). Either makes job counts
    # meaningless as an action proxy — pin both off for the measurement.
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    sc.setJobGroup("components-cost", "components job-count pin")
    try:
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup_components(ids, pairs, small_graph_edges=0).collect()
        }
    finally:
        sc.setJobGroup(None, None)
        for k, v in before.items():
            spark.conf.set(k, v)
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5, 3: 3, 4: 4, 7: 7, 8: 8, 9: 9}
    assert LAST_COMPONENTS_INFO["backend"] == "star"
    assert LAST_COMPONENTS_INFO["rounds"] <= 2
    jobs = sc.statusTracker().getJobIdsForGroup("components-cost")
    # measured: the route count + 2 loop actions + the final collect
    assert len(jobs) <= 4, f"components loop ran {len(jobs)} jobs"


def test_components_singletons_and_empty_edges(spark):
    # an empty edge set takes the driver route even at
    # small_graph_edges=0 (0 edges ≤ 0); every id is its own cluster
    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_components(ids, pairs, small_graph_edges=0).collect()
    }
    assert got == {i: i for i in range(5)}
