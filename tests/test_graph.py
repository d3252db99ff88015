"""Connected-components operator: label propagation fixpoint semantics."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataeng_azure_spotify_spark.operators.graph import (
    component_sizes,
    connected_components,
)


def _labels(df):
    return {r.node: r.component for r in df.collect()}


def test_two_components_and_isolated_node(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "node long")
    out = connected_components(edges, nodes=nodes)
    assert _labels(out) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_chain_converges_to_min_id(spark):
    # a 12-node chain: diameter 11, needs several propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    out = connected_components(edges)
    assert set(_labels(out).values()) == {0}


def test_orientation_and_duplicates_ignored(spark):
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 3), (3, 3)], "src long, dst long"
    )
    out = connected_components(edges)
    assert _labels(out) == {1: 1, 2: 1, 3: 1}


def test_component_sizes(spark):
    edges = spark.createDataFrame([(1, 2), (4, 5), (5, 6)], "src long, dst long")
    out = component_sizes(connected_components(edges))
    got = {(r.node, r.component, r.size) for r in out.collect()}
    assert got == {(1, 1, 2), (2, 1, 2), (4, 4, 3), (5, 4, 3), (6, 4, 3)}


def test_nonconvergence_raises_with_propagation_method(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2, method="propagation")


def test_auto_falls_back_to_star_past_diameter_budget(spark):
    # same chain exceeds max_iters=2, but auto contracts + star-finishes
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    out = connected_components(edges, max_iters=2, method="auto")
    assert set(_labels(out).values()) == {0}


def test_star_method_direct(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "node long")
    out = connected_components(edges, nodes=nodes, method="star")
    assert _labels(out) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


@pytest.mark.slow
def test_high_diameter_path_graph_converges(spark):
    # 10k-node path: diameter 9999 >> any propagation budget. The
    # propagation-only method would hard-fail; auto must converge via
    # the O(log^2 n) large-star/small-star fallback (Kiveris SoCC'14).
    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = connected_components(edges, max_iters=5, method="auto")
    comps = out.select("component").distinct().collect()
    assert [r.component for r in comps] == [0]
    assert out.count() == n


def test_star_matches_propagation_on_random_graph(spark):
    import random

    rng = random.Random(1234)
    # 300 nodes, sparse random edges -> a mix of components + singletons
    pairs = [(rng.randrange(300), rng.randrange(300)) for _ in range(200)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(300)], "node long")
    a = _labels(connected_components(edges, nodes=nodes, method="propagation"))
    b = _labels(connected_components(edges, nodes=nodes, method="star"))
    assert a == b


def test_component_representatives_picks_highest_score(spark):
    from dataeng_azure_spotify_spark.operators.graph import component_representatives

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node long, component long"
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2)], "node long, score long"
    )
    out = {(r.component, r.node, r.score)
           for r in component_representatives(labels, scores).collect()}
    # component 1: score tie 9 between nodes 2 and 3 -> smallest id wins
    assert out == {(1, 2, 9), (10, 10, 4)}


def test_star_components_one_job_per_round(spark):
    """The fixpoint probe must ride the per-round checkpoint job.

    Regression armor for the observe-fused probe: with separate
    count()/exceptAll() actions a round cost 3-4 *actions*; fused, each
    round is exactly one action (the eager localCheckpoint). AQE and
    broadcast-build jobs fan one action into several Spark jobs, so the
    test pins action==job by disabling both for its duration.
    """
    from dataeng_azure_spotify_spark.operators import graph as graph_mod
    from dataeng_azure_spotify_spark.operators.graph import star_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(16)] + [(100, 101), (101, 102)],
        "src long, dst long",
    )
    sc = spark.sparkContext
    group = "star-job-probe"
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sc.setJobGroup(group, "star_components job-count probe")
    try:
        labeled = star_components(edges)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    rounds = graph_mod._LAST_STAR_ROUNDS
    assert rounds >= 2  # chain of 17 nodes needs multiple star rounds
    # 1 normalization job + 1 job per round, nothing else.
    assert len(jobs) == rounds + 1, (len(jobs), rounds)
    # and the answer is still right
    got = {r.node: r.component for r in labeled.collect()}
    assert set(got.values()) == {0, 100}
    assert all(got[i] == 0 for i in range(17))


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators.graph import pagerank

    # directed graph with a dangling node (3) and a hub (0)
    E = [(0, 1), (0, 2), (1, 0), (2, 0), (2, 1), (4, 0), (4, 3), (1, 3)]
    edges = spark.createDataFrame([Row(src=a, dst=b) for a, b in E])
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=12).collect()}

    n, d = 5, 0.85
    out = {u: [v for (s, v) in E if s == u] for u in range(n)}
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        nxt = np.full(n, (1 - d) / n)
        dangling = sum(r[u] for u in range(n) if not out[u])
        nxt += d * dangling / n
        for u in range(n):
            for v in out[u]:
                nxt[v] += d * r[u] / len(out[u])
        r = nxt
    for u in range(n):
        assert abs(got[u] - r[u]) < 1e-9, (u, got[u], r[u])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_round_join_is_edge_side_exchange_free(spark):
    """The per-round ``ed ⋈ ranks`` join must read the checkpointed,
    pre-partitioned edge list IN PLACE: no Exchange and no Sort may
    appear above the edge scan. Regression armor for the r6
    pre-partitioning (without the captured hash layout every round
    re-shuffles the 100 TB side) and for the r13 join strategy: the
    rank side is the SHUFFLED-HASH build — the r13 A/B measured the
    old per-round broadcast (two driver collect+build jobs per round)
    2.3× slower than the co-partitioned hash join, and a sort-merge
    round would re-sort the edge side every iteration."""
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators import graph as graph_mod
    from dataeng_azure_spotify_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a in range(60) for b in [(a + 1) % 60, (a + 7) % 60]]
    )
    pagerank(edges, iters=2).collect()
    plan = graph_mod._LAST_PR_ROUND_PLAN
    assert plan, "first-round plan was not captured"
    # edge attribute is s#<id>: any exchange hashing on it means the
    # edge side moved; the rank side may move (O(nodes)) — the groupBy-d
    # exchange plus that rank-side re-exchange are the only two allowed
    assert "hashpartitioning(s#" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan  # rank side is the build
    assert "SortMergeJoin" not in plan, plan
    assert "Sort " not in plan, plan  # SHJ: edge side unsorted too
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_pagerank_hub_outranks_leaves(spark):
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators.graph import pagerank

    # star: everyone points at 0
    edges = spark.createDataFrame(
        [Row(src=i, dst=0) for i in range(1, 8)]
    )
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=8).collect()}
    assert got[0] == max(got.values())
    leaf_ranks = [got[i] for i in range(1, 8)]
    assert max(leaf_ranks) - min(leaf_ranks) < 1e-12


def test_pagerank_empty_graph(spark):
    from pyspark.sql import Row

    from dataeng_azure_spotify_spark.operators.graph import pagerank

    edges = spark.createDataFrame([Row(src=1, dst=2)]).filter("src > 99")
    assert pagerank(edges).count() == 0


def test_pagerank_setup_never_touches_shared_session_conf(spark, monkeypatch):
    """The AQE-off window must live on pagerank's PRIVATE child session:
    any set() against the CALLER's session conf during the call is a
    regression to the shared-conf flip (concurrent planners on other
    threads would silently lose AQE)."""
    from pyspark.sql import Row
    from pyspark.sql.conf import RuntimeConfig

    from dataeng_azure_spotify_spark.operators import graph as graph_mod
    from dataeng_azure_spotify_spark.operators.graph import pagerank

    # the cross-session path must be live in this environment (there is
    # no conf-flip fallback: pagerank raises without it)
    probe = spark.range(3).localCheckpoint(eager=True)
    child = spark.newSession()
    assert graph_mod._cross_session(probe, child) is not None

    parent_jconf = spark.conf._jconf
    real_set = RuntimeConfig.set
    touched = []

    def recording_set(self, key, value):
        if self._jconf.equals(parent_jconf):
            touched.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = spark.createDataFrame([Row(src=1, dst=2), Row(src=2, dst=3)])
    out = {r.node: r.rank for r in pagerank(edges, iters=2).collect()}
    assert set(out) == {1, 2, 3}
    assert touched == [], touched
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
