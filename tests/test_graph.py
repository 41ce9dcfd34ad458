"""Contract tests for the public pagerank(edges) API beyond the oracle
queries: empty input, genuinely directed graphs (sink nodes), and parity
between the driver-local finisher and the distributed body."""

from __future__ import annotations

import pytest

from kgforge.operators import graph
from kgforge.operators.graph import pagerank


def test_pagerank_empty_edges_returns_empty(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges)
    assert out.columns == ["node", "r"]
    assert out.count() == 0


def test_pagerank_reports_sink_nodes(spark):
    # 1 -> 2: node 2 has no out-edge but must appear in the output with the
    # inbound mass it received (no-dangling-redistribution semantics).
    edges = spark.createDataFrame([("1", "2")], "src string, dst string")
    ranks = {r["node"]: r["r"] for r in pagerank(edges, iters=1).collect()}
    assert set(ranks) == {"1", "2"}
    # n=2, uniform init 0.5; damping d: r(1) = (1-d)/2, r(2) = (1-d)/2 + d*0.5
    d = 0.85
    assert ranks["1"] == pytest.approx((1 - d) / 2)
    assert ranks["2"] == pytest.approx((1 - d) / 2 + d * 0.5)


def _sym(spark, und_pairs):
    rows = [(a, b) for a, b in und_pairs] + [(b, a) for a, b in und_pairs]
    return spark.createDataFrame(rows, "src string, dst string")


def _bruteforce_kcore(und_pairs, k, rounds=None):
    """Python reference peel: ``rounds`` synchronous removals of every
    degree-<k node (None = to fixpoint); survivors with their degree."""
    adj: dict[str, set[str]] = {}
    for a, b in und_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    done = 0
    while rounds is None or done < rounds:
        dead = {n for n, ns in adj.items() if len(ns) < k}
        if not dead:
            break
        done += 1
        for n in dead:
            adj.pop(n)
        for ns in adj.values():
            ns.difference_update(dead)
    return {n: len(ns) for n, ns in adj.items() if ns}


def _kcore(edges, k, rounds):
    from kgforge.operators.graph import kcore_peel

    return {r["node"]: r["core_degree"] for r in kcore_peel(edges, k, rounds).collect()}


def test_kcore_peel_matches_bruteforce(spark):
    """Fixed-round peel vs a Python reference peel on a graph with a
    planted 3-core (K4), a pendant chain, and a triangle hanging off it."""
    und = [
        # K4 on a,b,c,d (3-core)
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        # bridge d - e - f: e has degree 2 (d, f) so it survives k=2
        ("d", "e"), ("e", "f"),
        # triangle f - g - h - f (2-core that survives)
        ("f", "g"), ("g", "h"), ("h", "f"),
        # true pendant p off d: degree 1, peeled in round 1; its removal
        # must NOT cascade (d keeps degree >= 2)
        ("d", "p"),
    ]
    got = _kcore(_sym(spark, und), 2, 6)
    assert got == _bruteforce_kcore(und, 2, 6)
    assert "p" not in got  # pendant peeled
    assert "e" in got  # bridge node survives (degree exactly k)


def test_label_propagation_deterministic_and_total(spark):
    """Two disjoint triangles: every node must adopt its component's min
    label, and repeated runs are identical (deterministic tie-breaks)."""
    from kgforge.operators.graph import label_propagation

    und = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x")]
    edges = _sym(spark, und)
    got1 = {r["node"]: r["lab"] for r in label_propagation(edges, 3).collect()}
    got2 = {r["node"]: r["lab"] for r in label_propagation(edges, 3).collect()}
    assert got1 == got2
    assert set(got1) == {"a", "b", "c", "x", "y", "z"}
    assert {got1[n] for n in "abc"} == {"a"}
    assert {got1[n] for n in "xyz"} == {"x"}


def test_cc_incremental_merge_semantics(spark):
    """The star-forest argument, explicitly: old mapping + new edges must
    reproduce the full recompute when a new edge MERGES two old
    components, when new edges form a brand-new component, and when an
    old component is untouched."""
    from kgforge.stages.canonical import connected_components

    old = [(1, 2), (2, 3), (10, 11), (20, 21)]  # components {1,2,3} {10,11} {20,21}
    new = [(3, 10), (30, 31)]  # merge {1..3}+{10,11}; brand-new {30,31}

    def df(pairs):
        return spark.createDataFrame(pairs, "a long, b long")

    m_old = connected_components(df(old), local_threshold=0)
    star = m_old.selectExpr("entity_id as a", "canonical_id as b")
    m_inc = connected_components(star.unionByName(df(new)), local_threshold=0)

    m_full = connected_components(df(old + new), local_threshold=0)

    def mapping(m, verts):
        rows = {int(r["entity_id"]): int(r["canonical_id"]) for r in m.collect()}
        return {v: rows.get(v, v) for v in verts}

    verts = sorted({x for p in old + new for x in p})
    assert mapping(m_inc, verts) == mapping(m_full, verts)
    got = mapping(m_inc, verts)
    assert got[11] == 1  # merged across the new edge down to the global min
    assert got[30] == 30 and got[31] == 30  # new-only component
    assert got[20] == 20 and got[21] == 20  # untouched old component


def test_bfs_levels_frontier_shortest_hops(spark):
    """Path graph 1-2-3-4-5 plus a shortcut 1-4: BFS from {1} must take
    the 1-hop shortcut to 4 (not the 3-hop path) and stop at max_hops."""
    from kgforge.operators.graph import bfs_levels_frontier

    undirected = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (6, 7)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_levels_frontier(edges, seeds, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}  # 6,7 unreachable


def test_bfs_levels_frontier_multi_source_min(spark):
    """Two seeds: each node gets the distance to its NEAREST seed."""
    from kgforge.operators.graph import bfs_levels_frontier

    undirected = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in undirected] + [(b, a) for a, b in undirected],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_levels_frontier(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}


def _random_und(n_nodes=400, n_edges=2500, seed=13):
    import random

    rng = random.Random(seed)
    rows = [
        (f"e{rng.randrange(n_nodes)}", f"e{rng.randrange(n_nodes)}") for _ in range(n_edges)
    ]
    return [(a, b) for a, b in rows if a != b]


def _random_sym_graph(spark, n_nodes=400, n_edges=2500, seed=13):
    return _sym(spark, _random_und(n_nodes, n_edges, seed)).distinct()


def test_partitioned_variants_match_broadcast_plans(spark, monkeypatch):
    """The scale variants (shuffle-hash joins instead of per-round
    broadcast builds — pagerank and bfs partitioned mode) must be
    output-identical to the broadcast plans; only the physical exchange
    strategy differs.  These are the plans the 1M-node scaling bench
    (bench/graph_scaling.py) runs."""
    from pyspark.sql import functions as F

    from kgforge.operators.graph import bfs_levels_frontier, pagerank

    monkeypatch.setattr(graph, "PR_LOCAL_EDGES", 0)  # plan under test, not the local finisher
    sym = _random_sym_graph(spark)
    a = {r.node: round(r.r, 6) for r in pagerank(sym).collect()}
    b = {r.node: round(r.r, 6) for r in pagerank(sym, partitioned=True).collect()}
    assert a == b
    seeds = sym.select(F.col("src").alias("node")).distinct().orderBy("node").limit(10)
    xa = {(r.node, r.dist) for r in bfs_levels_frontier(sym, seeds, 3).collect()}
    xb = {
        (r.node, r.dist)
        for r in bfs_levels_frontier(sym, seeds, 3, partitioned=True).collect()
    }
    assert xa == xb


def test_kcore_peel_random_graph_matches_bruteforce(spark):
    """On a random graph whose k=4 peel cascades for 5 rounds: a 2-round
    budget must stop mid-cascade exactly where the reference does, and a
    50-round budget (fixpoint early exit) must equal the reference
    fixpoint."""
    und = _random_und(n_edges=1200, seed=7)
    sym = _sym(spark, und).distinct()
    partial = _bruteforce_kcore(und, 4, 2)
    fixpoint = _bruteforce_kcore(und, 4)
    assert partial != fixpoint  # the 2-round budget really is cut short
    assert _kcore(sym, 4, 2) == partial
    assert _kcore(sym, 4, 50) == fixpoint


def _assert_round_exchange_free(laid):
    from pyspark.sql import functions as F

    removed = (
        laid.groupBy("src")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") < 3)
        .select("src")
    )
    one_round = laid.join(F.broadcast(removed), "src", "left_anti").join(
        F.broadcast(removed.select(F.col("src").alias("dst"))), "dst", "left_anti"
    )
    plan = one_round._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_pinned_checkpoint_round_is_exchange_free(spark):
    """iterate.checkpoint(pin=True) is load-bearing for pagerank,
    label_propagation and bfs_levels_frontier(partitioned=True): a PLAIN
    localCheckpoint under AQE forgets the hash layout (AdaptiveSparkPlan's
    outputPartitioning is unknown pre-final) and this very plan
    re-exchanges — measured.  Over a pinned hash(src) layout, a degree
    agg plus two broadcast anti-joins must plan ZERO shuffle exchanges."""
    from kgforge import iterate

    sym = _random_sym_graph(spark, seed=7)
    laid, _ = iterate.checkpoint(sym.repartition("src"), pin=True)
    _assert_round_exchange_free(laid)


def test_pinned_checkpoint_with_probe_is_exchange_free(spark):
    """The observed probe a loop attaches to its checkpoint keeps the
    pinned layout: the same round still plans no shuffle exchange."""
    from pyspark.sql import functions as F

    from kgforge import iterate

    sym = _random_sym_graph(spark, seed=7)
    laid, seen = iterate.checkpoint(
        sym.repartition("src"), F.count(F.lit(1)).alias("n"), pin=True
    )
    assert seen == {"n": sym.count()}
    _assert_round_exchange_free(laid)


def test_pagerank_partitioned_has_no_per_round_rank_broadcast(spark, monkeypatch):
    """The partitioned plan's point: the rank vector moves through
    shuffle-hash exchanges, never a per-round broadcast build.  The only
    BroadcastExchange allowed across ALL rounds is the one-time degree
    join inside the cached w build.  Every round ends in a checkpoint, so
    a round's plan holds only that round (earlier rounds sit behind the
    previous checkpoint): the per-round counts sum to the whole unrolled
    plan's count."""
    from kgforge import iterate

    monkeypatch.setattr(graph, "PR_LOCAL_EDGES", 0)  # plan under test, not the local finisher
    plans, real = [], iterate.checkpoint

    def spy(df, *probes, pin=False):
        out = real(df, *probes, pin=pin)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(iterate, "checkpoint", spy)
    sym = _random_sym_graph(spark, seed=14)
    pagerank(sym, partitioned=True)
    assert len(plans) == graph.PR_ITERS
    for plan in plans:
        assert "ShuffledHashJoin" in plan
    assert sum(p.count("BroadcastExchange") for p in plans) <= 1


# ------------------------------------------- local finisher vs distributed
def _both_paths(monkeypatch, edges, **kw):
    """(local, distributed) pagerank outputs over the same edges."""
    local = pagerank(edges, **kw)
    with monkeypatch.context() as m:
        m.setattr(graph, "PR_LOCAL_EDGES", 0)
        dist = pagerank(edges, **kw)
    return local, dist


def _ranks(df, digits=None):
    return {r.node: (r.r if digits is None else round(r.r, digits)) for r in df.collect()}


def test_pagerank_paths_agree_on_random_graph(spark, monkeypatch):
    local, dist = _both_paths(monkeypatch, _random_sym_graph(spark))
    assert local.dtypes == dist.dtypes == [("node", "string"), ("r", "double")]
    assert _ranks(local, 9) == _ranks(dist, 9)


def test_pagerank_paths_agree_on_directed_graph_with_sinks(spark, monkeypatch):
    # 3 and 5 are sinks; 4 only sends; 1 <-> 2 is a cycle
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "1"), ("1", "3"), ("2", "3"), ("4", "3"), ("4", "5")],
        "src string, dst string",
    )
    local, dist = _both_paths(monkeypatch, edges, iters=1)
    assert _ranks(local, 9) == _ranks(dist, 9)
    assert set(_ranks(local)) == {"1", "2", "3", "4", "5"}


def test_pagerank_paths_agree_on_empty_edges(spark, monkeypatch):
    """The probe of an empty edge set returns 0 rows, which is within any
    bound, so both settings finish locally and return the empty table."""
    edges = spark.createDataFrame([], "src string, dst string")
    for out in _both_paths(monkeypatch, edges):
        assert out.columns == ["node", "r"]
        assert out.count() == 0


def test_pagerank_paths_keep_bigint_ids(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(10, 20), (20, 10), (20, 30), (30, 20), (10, 30), (2**40, 10)], "src bigint, dst bigint"
    )
    local, dist = _both_paths(monkeypatch, edges)
    assert local.dtypes == dist.dtypes == [("node", "bigint"), ("r", "double")]
    assert _ranks(local, 9) == _ranks(dist, 9)
    assert 2**40 in _ranks(local)


def test_pagerank_local_ranks_ignore_input_order(spark):
    """The local finisher sorts edges by node code before iterating, so
    its float sums do not depend on the order the collect returns rows."""
    import random

    rows = _random_und()
    rows = rows + [(b, a) for a, b in rows]
    shuffled = list(rows)
    random.Random(5).shuffle(shuffled)
    a = spark.createDataFrame(rows, "src string, dst string")
    b = spark.createDataFrame(shuffled, "src string, dst string").repartition(3)
    assert _ranks(pagerank(a)) == _ranks(pagerank(b))


def test_pagerank_path_choice_past_probe_cap(spark, monkeypatch):
    """Past PR_PROBE_EDGES a count decides: a graph within PR_LOCAL_EDGES
    is collected whole and finished locally (bit-identical to the probe's
    rows), a larger one runs the distributed body."""
    sym = _random_sym_graph(spark)
    n_edges = sym.count()
    local_inputs = []

    def spy(sym, pdf, iters, damping):
        local_inputs.append(len(pdf))
        return local(sym, pdf, iters, damping)

    local = graph._local_pagerank
    monkeypatch.setattr(graph, "_local_pagerank", spy)
    head = _ranks(pagerank(sym))
    monkeypatch.setattr(graph, "PR_PROBE_EDGES", 100)
    counted = _ranks(pagerank(sym))
    monkeypatch.setattr(graph, "PR_LOCAL_EDGES", n_edges - 1)
    dist = _ranks(pagerank(sym), 9)
    assert local_inputs == [n_edges, n_edges]
    assert counted == head
    assert dist == {k: round(v, 9) for k, v in head.items()}
