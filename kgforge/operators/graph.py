"""Graph analytics over materialized KG output — the consumer-side
operators a KG is built FOR: degree statistics and fixed-iteration
PageRank (the /root/reference/experiments/uaz_documents_comparison.py:54-66
concept-ranking consumer, generalized).

Two registered graph inputs:

- the concept co-occurrence graph (kg_doc_pairs output re-used as input) —
  tiny, and its oracle UNROLLS the iterations as a CTE chain, so the
  driver hash-gates the whole computation (``concept_pagerank``);
- the REAL pipeline triple graph: ``entity_pagerank`` runs the full
  mentions -> links -> components -> materialize pipeline over the
  deterministic synthetic corpus, derives the entity edge set from the
  emitted (subj, pred, obj) triples, and ranks the entities.  Its oracle
  recomputes the same ranks in DuckDB from the committed twin triple
  fixture, so the iterative job is still hard value-hash-gated.

Scale notes: ``pagerank`` takes any (src, dst) edge DataFrame and runs in
one of two regimes, chosen by the size of the cached edge set (a capped
probe, then a count past the cap).  Up to ``session.DRIVER_EDGES`` edges
the graph is collected once and the power iteration finishes on the driver
in numpy — per-job round trips, not rank arithmetic, are the whole cost
of a small graph.  Above it the distributed body runs: contributions are
one groupBy per iteration (AQE-skew-safe); the per-node out-degree
factor is computed once and joined into the edge list before iterating,
so each round touches only (src, dst, w) + the rank vector.  The edge
count also picks its plan: up to ``PR_PARTITION_EDGES`` the rank vector
broadcasts into the edge join, past it the edge list and node set are
hash-partitioned once on their join keys and each round shuffles only
the V-row rank and contribution tables.  Every round's rank vector goes
through ``iterate.checkpoint``, truncating lineage so iteration count
never grows the plan — required on a million-entity graph, measured at
1M-file scale in bench/scaling.py.
Intermediates are cached through cachectl so a long-lived session can
release them after the plan is forced.  No UDF on either path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import iterate, session
from ..cachectl import tracked_cache
from ..session import local_frame
from .kgdocs import SQL_DOC_PAIRS, _doc_mentions, _doc_pairs
from .registry import ROUND, query

DAMPING = 0.85
PR_ITERS = 3
# Past this many edges pagerank's distributed body runs the co-partitioned
# plan; up to it the rank vector broadcasts into the edge join.  Paired
# runs (BASELINE.md "PageRank's distributed plan by edge count"): broadcast
# faster at 13.3M edges; at 26.5M co-partitioning tied at local[2] and was
# faster at local[4], so the bound is the smallest size measured where the
# co-partitioned plan is no slower.
PR_PARTITION_EDGES = 26_500_000

_SQL_EDGES = f"""
sym as (
  select c1 as src, c2 as dst from ({SQL_DOC_PAIRS})
  union all
  select c2 as src, c1 as dst from ({SQL_DOC_PAIRS})
),
nodes as (select distinct src as node from sym),
nn as (select count(*)::DOUBLE as n from nodes),
deg as (select src, count(*)::DOUBLE as d from sym group by src),
w as (select sym.src, sym.dst, 1.0 / deg.d as w from sym join deg using (src))
"""


def _sql_pr_iter(prev: str, cur: str) -> str:
    return f"""
    {cur} as (
      select nodes.node,
             (1 - {DAMPING}) / (select n from nn)
             + {DAMPING} * coalesce(s.contrib, 0) as r
      from nodes left join (
        select w.dst as node, sum(w.w * {prev}.r) as contrib
        from w join {prev} on {prev}.node = w.src
        group by w.dst
      ) s using (node)
    )"""


_SQL_PR_CHAIN = ",".join(
    [" r0 as (select node, 1.0 / (select n from nn) as r from nodes)"]
    + [_sql_pr_iter(f"r{i}", f"r{i+1}") for i in range(PR_ITERS)]
)


def pagerank(edges: DataFrame, iters: int = PR_ITERS, damping: float = DAMPING) -> DataFrame:
    """Fixed-iteration PageRank over a directed (src, dst) edge DataFrame.

    Sink nodes (dst-only) are kept in the node set and receive inbound
    mass, but their own mass is NOT redistributed (the standard
    no-dangling-redistribution simplification) — so total rank is only
    conserved on out-degree-complete graphs.  Both registered callers
    symmetrize their edges, which makes every node a source.  An empty
    edge set returns an empty rank table rather than dividing by zero.

    Two regimes, one algorithm, chosen by edge count.  Graphs of at most
    ``session.DRIVER_EDGES`` edges are collected and finish on the driver
    (``_local_pagerank``): the rows of one ``driver_rows`` probe are the
    input, or past its cap ``count()`` decides and a graph within the
    bound is collected whole.  A local-vs-distributed sweep (BASELINE.md
    "PageRank at entity-graph scale") found local 12.6x faster at 10k
    edges and still 1.5x at 4M, so the bound guards driver memory; the
    43.6M-edge scaling graphs stay distributed.  Larger graphs run the
    distributed body below, which checkpoints the rank vector every
    round so plan size stays constant in iteration count.  Its plan is
    chosen by the same edge count: up to ``PR_PARTITION_EDGES`` the rank
    vector broadcasts into each round's edge join; past it ``w`` and
    ``nodes`` are hash-partitioned ONCE on their per-round join keys and
    cached, the per-round joins are hinted shuffle-hash, and only the
    V-row rank/contribution tables move per round, through parallel
    exchanges rather than a driver-built broadcast.  Both regimes return
    the same (node, r) table, ``node`` typed as the input ids and ``r``
    double.
    """
    sym = tracked_cache(edges)  # feeds the probe, deg AND the join leg
    # Path choice that never ships a large graph: one probe (one job)
    # settles a small graph outright; past its cap count() decides, which
    # costs next to nothing beyond loading the cache the distributed body
    # reads anyway.
    head = session.driver_rows(sym)
    if head is not None:
        n_edges = len(head)
        pdf = pd.DataFrame(head, columns=sym.columns)
    else:
        n_edges = sym.count()
        pdf = sym.toPandas() if n_edges <= session.DRIVER_EDGES else None
    if pdf is not None and len(pdf) <= session.DRIVER_EDGES:
        return _local_pagerank(sym, pdf, iters, damping)
    partitioned = n_edges > PR_PARTITION_EDGES
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    # Partitioned mode keeps the one-time degree join off the driver too:
    # a sort-merge join, never a driver-built V-row broadcast of deg, even
    # now that the probe has loaded sym and its size is known.  Measured
    # against the broadcast AQE picks at 4M edges: same walls (BASELINE.md,
    # "PageRank at entity-graph scale").
    w = sym.join(deg.hint("merge") if partitioned else deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("d")).alias("w")
    )
    nodes = (
        sym.select(F.col("src").alias("node"))
        .unionByName(sym.select(F.col("dst").alias("node")))
        .distinct()
    )
    if partitioned:
        # one-time layout: both loop-invariant tables land hash-partitioned
        # on their per-round join keys, so every round's joins reuse the
        # cached partitioning and exchange only the rank-vector side
        w = w.repartition("src")
        nodes = nodes.repartition("node")
    w = tracked_cache(w)
    nodes = tracked_cache(nodes)
    n = nodes.count()  # > 0: an empty edge set took the local path
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    # Per-round plan (audited): the rank vector broadcasts into the edge
    # join (the edge table is NEVER reshuffled), and the contribution
    # groupBy partial-aggregates map-side, so the only shuffle per round
    # moves O(V x partitions) rows, not O(E).  A repartition("src")+cache
    # of w was measured and REJECTED: with ranks broadcast it only adds
    # exchanges.  Past PR_PARTITION_EDGES the partitioned mode below takes
    # over instead.
    for _ in range(iters):
        r = ranks.hint("shuffle_hash") if partitioned else ranks
        contrib = (
            w.join(r, w["src"] == r["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("w") * F.col("r")).alias("contrib"))
        )
        if partitioned:
            contrib = contrib.hint("shuffle_hash")
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit((1 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("r"),
        )
        # partitioned mode: the rank vector leaves the round hash(node)-
        # partitioned (the nodes-side join layout), which is exactly the
        # next round's join distribution — pin it through the checkpoint
        ranks, _ = iterate.checkpoint(ranks, pin=partitioned)
    return ranks


def _local_pagerank(sym: DataFrame, pdf: pd.DataFrame, iters: int, damping: float) -> DataFrame:
    """The distributed body's arithmetic over a collected edge set, in
    numpy.  Edges are sorted by node code first, so every float sum runs
    in one fixed order whatever order the collect returned the rows in."""
    codes, nodes = pd.factorize(pd.concat([pdf["src"], pdf["dst"]], ignore_index=True), sort=True)
    n, m = len(nodes), len(pdf)
    r = np.empty(0)
    if n:
        order = np.lexsort((codes[m:], codes[:m]))
        src, dst = codes[:m][order], codes[m:][order]
        w = 1.0 / np.bincount(src, minlength=n)[src]  # 1 / out-degree, per edge
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            r = (1 - damping) / n + damping * np.bincount(dst, weights=w * r[src], minlength=n)
    schema = StructType(
        [StructField("node", sym.schema["src"].dataType), StructField("r", DoubleType(), False)]
    )
    return local_frame(sym.sparkSession, pd.DataFrame({"node": nodes, "r": r}), schema)


def _concept_edges(spark, sf_dir) -> DataFrame:
    pairs = _doc_pairs(_doc_mentions(spark, sf_dir))
    return pairs.select(F.col("c1").alias("src"), F.col("c2").alias("dst")).unionAll(
        pairs.select(F.col("c2").alias("src"), F.col("c1").alias("dst"))
    )


@query(
    "concept_degrees",
    oracle=f"""
    with {_SQL_EDGES}
    select src as concept, d::BIGINT as degree from deg
    """,
)
def concept_degrees(spark, sf_dir):
    """Degree per concept node of the symmetrized co-occurrence graph."""
    return _concept_edges(spark, sf_dir).groupBy(F.col("src").alias("concept")).agg(
        F.count(F.lit(1)).alias("degree")
    )


@query(
    "concept_pagerank",
    oracle=f"""
    with {_SQL_EDGES},
    {_SQL_PR_CHAIN}
    select node as concept, round(r, {ROUND}) as rank
    from r{PR_ITERS}
    """,
)
def concept_pagerank(spark, sf_dir):
    """PR_ITERS-iteration PageRank (damping 0.85) over the concept graph,
    initialized uniform; iterations unrolled identically in the oracle's
    CTE chain; rounded for the cross-engine hash."""
    ranks = pagerank(_concept_edges(spark, sf_dir))
    return ranks.select(F.col("node").alias("concept"), F.round("r", ROUND).alias("rank"))


# -------------------------------------------------- pipeline entity graph
# PageRank over the REAL KG output: the full pipeline runs on the synthetic
# corpus, the edge set is the emitted triple graph itself (subj -> obj of
# every non-identity triple, symmetrized, deduped), and ranking takes the
# same path choice as any caller: at oracle size the graph is far under
# session.DRIVER_EDGES and finishes on the driver.  The oracle re-derives
# the same edges from the committed twin triple fixture
# (fixtures/twin_triples.parquet, drift-guarded) and unrolls the identical
# PR chain in SQL — so the iterative job over pipeline output is hard
# value-hash-gated end-to-end.

_SQL_ENTITY_EDGES_TMPL = """
tri as (select subj, obj from read_parquet('{path}') where subj <> obj),
und as (select distinct subj as src, obj as dst from tri
        union
        select distinct obj as src, subj as dst from tri),
sym as (select src, dst from und),
nodes as (select distinct src as node from sym),
nn as (select count(*)::DOUBLE as n from nodes),
deg as (select src, count(*)::DOUBLE as d from sym group by src),
w as (select sym.src, sym.dst, 1.0 / deg.d as w from sym join deg using (src))
"""


def triple_edges(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj) triples -> symmetrized distinct (src, dst) edges.
    Self-loops dropped (an entity citing its own definition carries no
    ranking signal); union (not unionAll) + distinct dedups parallel
    predicates between the same endpoints."""
    tri = triples.where(F.col("subj") != F.col("obj")).select("subj", "obj")
    return (
        tri.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .unionByName(tri.select(F.col("obj").alias("src"), F.col("subj").alias("dst")))
        .distinct()
    )


def _entity_pr_oracle() -> str:
    from ..oracle.fixtures import fixture_path

    return f"""
    with {_SQL_ENTITY_EDGES_TMPL.format(path=fixture_path('triples'))},
    {_SQL_PR_CHAIN}
    select node as entity, round(r, {ROUND}) as rank
    from r{PR_ITERS}
    """


@query("entity_pagerank", oracle=_entity_pr_oracle())
def entity_pagerank(spark, sf_dir):
    """PageRank over the pipeline's emitted triple graph (consumer-side
    entity ranking, /root/reference/experiments/uaz_documents_comparison.py:
    54-66 generalized to the code KG).  Runs the REAL pipeline — packed
    mention extraction, LSH-blocked linking, distributed CC, materialize —
    then ranks the entity graph."""
    from ..stages import canonical, embed, link, materialize, mentions
    from .kgdocs import _synth

    men_packed = mentions.extract_mentions_packed(_synth(spark))
    men = mentions.explode_mentions(men_packed)
    links = link.candidate_links(embed.embed_mentions(men))
    ents = canonical.connected_components(links)
    triples = materialize.triples_from_packed(men_packed, ents)
    ranks = pagerank(triple_edges(triples))
    return ranks.select(F.col("node").alias("entity"), F.round("r", ROUND).alias("rank"))


# ------------------------------------------------------- triangle counting
# Per-node triangle counts over a REAL-SIZE graph: parts co-occurring in
# the same order (the co-purchase graph, ~10^5 edges at sf0.01).  The
# Spark side uses the degree-ordered orientation (each canonical edge is
# directed from its lower-(degree, id) endpoint), so every triangle has
# exactly ONE vertex with two out-edges and is closed exactly once — the
# standard arboricity bound that keeps wedge generation O(m^1.5) instead
# of O(sum deg^2) on skewed graphs.  The oracle enumerates x<y<z triangles
# directly, which is orientation-free — so the driver hash-gates the
# orientation trick against an independent derivation.


@query(
    "triangle_count",
    oracle="""
    with e as (
      select distinct l1.l_partkey::BIGINT as a, l2.l_partkey::BIGINT as b
      from lineitem l1 join lineitem l2
        on l1.l_orderkey = l2.l_orderkey and l1.l_partkey < l2.l_partkey
    ),
    tri as (
      select e1.a as x, e1.b as y, e2.b as z
      from e e1
      join e e2 on e2.a = e1.b
      join e e3 on e3.a = e1.a and e3.b = e2.b
    ),
    corners as (
      select x as node from tri
      union all select y from tri
      union all select z from tri
    )
    select node, count(*)::BIGINT as n_triangles
    from corners group by node
    """,
)
def triangle_count(spark, sf_dir):
    """Triangles per node of the co-ordered-parts graph.  The per-order
    pair explosion is bounded (TPC-H orders have <= 7 lines); the wedge
    join runs over ORIENTED out-edges so the heaviest hub contributes
    out-degree^2 ~ O(m) wedges, not degree^2."""
    from .registry import table as _table

    li = _table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").cast("long").alias("a"),
            F.col("y.l_partkey").cast("long").alias("b"),
        )
        .distinct()
    )
    return count_triangles(e)


def count_triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over canonical (a < b) undirected edges.

    Edge-iterator with adjacency-array intersection: build each node's
    neighbor array once, join both endpoints' arrays onto every edge
    (broadcast — the adjacency table is nodes x avg-degree longs, ~20 MB
    at bench scale), and count common neighbors per edge with ONE
    ``array_intersect``.  A triangle at node v is seen by exactly its two
    incident edges, so n_triangles(v) = sum of per-edge counts over v's
    edges / 2.

    Measured 3x faster warm (3.2 s vs 9.4 s at sf0.1, 1.2M edges) than
    the degree-oriented wedge join this replaces: the wedge stream
    materialized 41M rows through a shuffle before probing; the
    intersection does the same O(sum_edges d(x)+d(y)) element work inside
    one codegen stage and never materializes a wedge.  Scale valves: past
    broadcast size drop the hint (shuffle join on the edge key — rows
    moved stay O(m), arrays ride along); a web-scale hub whose array
    outgrows a task is the one case the oriented-wedge plan handles
    better — split by a degree threshold and route hubs there."""
    e = tracked_cache(edges)
    nbrs = (
        e.select(F.col("a").alias("v"), F.col("b").alias("n"))
        .unionByName(e.select(F.col("b").alias("v"), F.col("a").alias("n")))
        .groupBy("v")
        .agg(F.collect_list("n").alias("nb"))
    )
    na = nbrs.select(F.col("v").alias("a"), F.col("nb").alias("na"))
    nb = nbrs.select(F.col("v").alias("b"), F.col("nb").alias("nbb"))
    t = (
        e.join(F.broadcast(na), "a")
        .join(F.broadcast(nb), "b")
        .select("a", "b", F.size(F.array_intersect("na", "nbb")).alias("t"))
    )
    corners = t.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("node"), F.col("t")),
                F.struct(F.col("b").alias("node"), F.col("t")),
            )
        ).alias("s")
    ).select("s.node", "s.t")
    return (
        corners.groupBy("node")
        .agg((F.sum("t") / 2).cast("long").alias("n_triangles"))
        .where(F.col("n_triangles") > 0)
    )


# -------------------------------------------------- k-core / communities
# Two more consumer-side analytics over the concept co-occurrence graph,
# both FIXED-ROUND so the oracle can unroll the identical computation as
# a CTE chain (the concept_pagerank gating pattern):
#
# - ``kcore``: KCORE_ROUNDS of degree-K peeling (the standard iterative
#   k-core reduction; at fixpoint extra rounds are no-ops, so the fixed
#   unrolling equals the true k-core whenever the peel converges within
#   the budget — both engines compute the identical fixed-round set
#   either way).  Per round: a V-row degree decrement driven by the
#   removed set's neighbor lists (see ``kcore_peel``).
# - ``label_propagation``: LP_ITERS synchronous rounds of
#   most-frequent-neighbor-label with deterministic min-label
#   tie-breaking — the classic community detector, made hash-gateable by
#   the deterministic tie rule.  Per round: one edge-label equi-join +
#   one (node, label) count agg + one per-node argmax window, then a
#   pinned checkpoint of the labels.

KCORE_K = 2
KCORE_ROUNDS = 4
LP_ITERS = 3


def _sql_kcore_chain() -> str:
    parts = ["g0 as (select src, dst from sym)"]
    for i in range(KCORE_ROUNDS):
        parts.append(
            f"""v{i+1} as (select src from g{i} group by src
                 having count(*) >= {KCORE_K})"""
        )
        parts.append(
            f"""g{i+1} as (select g.src, g.dst from g{i} g
                 join v{i+1} a on g.src = a.src
                 join v{i+1} b on g.dst = b.src)"""
        )
    return ",\n".join(parts)


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """``rounds`` peels of degree-<k vertices over a SYMMETRIZED (src, dst)
    edge DataFrame; returns the surviving (node, core_degree) table.

    The peel maintains a V-row degree table, decremented per round, over
    a V-row adjacency table built once, so no round scans or rebuilds the
    E-row edge table:

    - one-time: group the edges by dst into per-node neighbor lists of
      packed keys, ``adj(h1,h2) -> [struct(h1,h2)...]``.  ``size(nb)`` is
      the initial degree (the edge table is symmetrized, so indegree =
      outdegree), and ``first(dst)`` carries the node string into the
      V-row table, so no later pass touches strings.
    - per round: the removed set is ``deg < k``; its decrements come
      from a V-row probe of ``adj`` against the broadcast removed set
      plus an explode of ONLY the removed nodes' lists, then a V-row
      update ``deg' = (deg minus removed) left-join dec``.  The degree
      tables are lazily cached; each round materializes through one
      action, the checkpoint of the removed set, which also observes its
      row count.  The loop exits early once nothing is removed (the
      fixed-round oracle chain is insensitive to that by construction).

    Node ids are packed to two-seed 128-bit xxhash64 keys (one 64-bit key
    birthday-collides ~1e4 times at the 1e12-file target —
    codegraph._h2's bound; two seeds ~1.5e-15, treated as exact), so
    every per-round join and aggregation is keyed on longs.

    Correctness: deg_r(v) for alive v equals v's degree in the round-r
    induced subgraph by induction — each edge (v, u) decrements deg(v)
    exactly once, in the round u is removed (removed sets are disjoint),
    and decrements of already-removed rows are discarded by the
    anti-join.  A survivor whose degree reached 0 is filtered at the end,
    matching a groupBy over the surviving edges.

    Why this formulation: it is the fastest and the only one of seven
    measured that clears the 0.8 paired-scaling gate (median 0.832, 16.55 s
    at local[8] on a 44.2M-edge entity graph, k=16;
    BENCH_SCALING_GRAPH_ADJ.json, BASELINE.md).  That figure was measured
    before the removed set became a ``localCheckpoint`` (a cached removed
    set grew the plan 3^r); the body above has not been re-measured at
    that size, whose graph does not fit a 15 GB host.  Per-round work is
    proportional to the removed fringe, not to E: an E-row decrement
    scan cost a flat ~4 s per round even at 3.6k removals
    (BENCH_SCALING_GRAPH_DELTA_STAGES.json), the V-row probe 0.46-0.74 s.
    The collect_list build needs
    ``spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold``
    above the per-task group count (session.py sets 8M; the Spark default
    of 128 silently degrades it to sort-based, measured 21 s vs 10.7 s).
    At web scale only round 1's removed set can outgrow a broadcast (the
    degree-1/2 fringe); run that round's probe as a shuffle join there."""
    adj = tracked_cache(
        edges.groupBy(
            F.xxhash64("dst").alias("h1"),
            F.xxhash64(F.lit("k2"), F.col("dst")).alias("h2"),
        ).agg(
            F.collect_list(
                F.struct(
                    F.xxhash64("src").alias("h1"),
                    F.xxhash64(F.lit("k2"), F.col("src")).alias("h2"),
                )
            ).alias("nb"),
            F.first("dst").alias("node"),
        )
    )
    deg = tracked_cache(
        adj.select("node", "h1", "h2", F.size("nb").alias("c"))
    )
    for _ in range(rounds):
        # a checkpoint, not a cache: the next deg reads deg directly,
        # through ``removed`` and through dec, so an uncut ``removed``
        # makes each round's plan embed the previous one three times
        # (3^r growth, measured: 18 s at 4 cascade rounds on a 1.2k-edge
        # graph, driver OOM at 5)
        removed, seen = iterate.checkpoint(
            deg.where(F.col("c") < k).select("h1", "h2"), F.count(F.lit(1)).alias("n")
        )
        if seen["n"] == 0:
            break
        dec = (
            adj.join(F.broadcast(removed), ["h1", "h2"])
            .select(F.explode("nb").alias("s"))
            .groupBy(F.col("s.h1").alias("h1"), F.col("s.h2").alias("h2"))
            .agg(F.count(F.lit(1)).alias("d"))
        )
        deg = tracked_cache(
            deg.join(F.broadcast(removed), ["h1", "h2"], "left_anti")
            .join(F.broadcast(dec), ["h1", "h2"], "left")
            .select(
                "node",
                "h1",
                "h2",
                (F.col("c") - F.coalesce(F.col("d"), F.lit(0))).alias("c"),
            )
        )
    return deg.where(F.col("c") > 0).select(
        "node", F.col("c").alias("core_degree")
    )


@query(
    "kcore",
    oracle=f"""
    with {_SQL_EDGES},
    {_sql_kcore_chain()}
    select src as concept, count(*)::BIGINT as core_degree
    from g{KCORE_ROUNDS} group by src
    """,
)
def kcore(spark, sf_dir):
    """{KCORE_ROUNDS}-round {KCORE_K}-core peel of the concept graph;
    emits survivors with their in-core degree."""
    out = kcore_peel(_concept_edges(spark, sf_dir), KCORE_K, KCORE_ROUNDS)
    return out.select(F.col("node").alias("concept"), "core_degree")


def _sql_lp_chain() -> str:
    parts = ["l0 as (select node, node as lab from nodes)"]
    for i in range(LP_ITERS):
        parts.append(
            f"""c{i} as (select s.dst as node, l{i}.lab, count(*) as c
                 from sym s join l{i} on l{i}.node = s.src
                 group by s.dst, l{i}.lab)"""
        )
        parts.append(
            f"""l{i+1} as (select node, min(lab) as lab from (
                   select node, lab, c, max(c) over (partition by node) as mx
                   from c{i}) t
                 where c = mx group by node)"""
        )
    return ",\n".join(parts)


def label_propagation(edges: DataFrame, iters: int) -> DataFrame:
    """``iters`` synchronous label-propagation rounds over a symmetrized
    (src, dst) edge DataFrame: each node takes its neighbors' most frequent
    label, ties to the MIN label (deterministic — required for the
    cross-engine hash).  Labels start as the node ids.  Every node of a
    symmetrized pair graph has >= 1 neighbor, so coverage is total.

    The edge table is consumed every round — localCheckpoint it once so
    an expensive upstream derivation (here the doc-pair self-join) is
    not re-run per iteration.  Each round's label table is truncated
    through a pinned checkpoint (the partitioned pagerank pattern)."""
    from pyspark.sql import Window

    edges = edges.localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("lab", F.col("node"))
    )
    w = Window.partitionBy("node")
    for _ in range(iters):
        cnt = (
            edges.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("mx", F.max("c").over(w))
            .where(F.col("c") == F.col("mx"))
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        # labels leave the round hash(node)-partitioned (the final
        # groupBy layout) — exactly the next round's join/window
        # distribution; pin it through the truncation
        labels, _ = iterate.checkpoint(labels, pin=True)
    return labels


@query(
    "label_propagation",
    oracle=f"""
    with {_SQL_EDGES},
    {_sql_lp_chain()}
    select node as concept, lab as community from l{LP_ITERS}
    """,
)
def label_propagation_query(spark, sf_dir):
    """LP_ITERS-round deterministic label propagation over the concept
    graph; emits each concept's final community label."""
    labels = label_propagation(_concept_edges(spark, sf_dir), LP_ITERS)
    return labels.select(F.col("node").alias("concept"), F.col("lab").alias("community"))


# ------------------------------------------------- multi-source BFS levels
# Shortest hop distance from a seed set — the reachability primitive
# behind ontology-rooted concept depth (data/wm_ontology.py:40-71 builds
# exactly this adjacency for its matrix walk) and "within-k-hops of a
# trusted node" corpus filters.  Runs over the REAL-SIZE co-purchase
# graph (the triangle_count edge set, ~10^5 edges at sf0.01), not the
# 10-node concept toy.
#
# Scale shape: classic frontier-expansion BFS — each round is ONE
# equi-join of the (shrinking) frontier against the edge table
# partitioned by src, an anti-join against the visited set, and a
# checkpoint that observes the frontier's size (empty ends the walk).
# Work per round is |frontier| x avg-degree, never O(V^2); the visited
# set only ever grows by the new frontier, so the union chain is flat.
# The oracle re-derives the same levels with a bounded recursive CTE —
# an independent formulation (set-semantics closure vs frontier loop).
BFS_SEED_MAX = 3   # seeds: part ids <= 3 present in the graph
BFS_MAX_HOPS = 3   # bounded exploration depth


def bfs_levels_frontier(
    edges: DataFrame, seeds: DataFrame, max_hops: int, partitioned: bool = False
) -> DataFrame:
    """(node, dist) shortest hop distances from ``seeds`` over symmetrized
    ``edges(src, dst)``, exploring at most ``max_hops`` rounds.  Each
    round's new frontier is checkpointed so the plan stays flat, and its
    observed size stops the walk once it is empty.

    ``partitioned=True`` hints the per-hop joins shuffle-hash: on an
    expander-ish graph the frontier and the visited set reach ~|V| rows
    within two hops, and broadcasting them per hop (what AQE picks while
    they sit under the 64 MB threshold) serializes ~40 MB broadcast
    builds on the driver — measured 0.37 paired scaling efficiency at
    43.7M edges / 1M nodes (bench/graph_scaling.py, round 4).  The edge
    table is additionally hash-partitioned on ``src`` ONCE before
    caching, so every hop's expansion join reuses the cached layout and
    exchanges only the frontier (~V rows), never the E-row edge side —
    without this the shuffle-hash hint re-exchanges all E edges per hop.
    Keep the default broadcast path for genuinely small explorations
    (the sf-toy oracle query); at entity scale a production caller would
    switch per hop on the measured frontier size."""
    edges = tracked_cache(edges.repartition("src") if partitioned else edges)
    dist = seeds.select("node", F.lit(0).cast("long").alias("dist")).localCheckpoint()
    frontier = dist.select("node")
    for hop in range(1, max_hops + 1):
        fr = frontier.hint("shuffle_hash") if partitioned else frontier
        nxt = (
            fr.join(edges, fr["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.hint("shuffle_hash") if partitioned else dist, "node", "left_anti")
            .select("node", F.lit(hop).cast("long").alias("dist"))
        )
        # partitioned mode: nxt leaves the hop hash(node)-partitioned (the
        # distinct's layout), which the next hop's expansion join and the
        # anti-join both want — pin it through the truncation
        nxt, seen = iterate.checkpoint(nxt, F.count(F.lit(1)).alias("n"), pin=partitioned)
        if seen["n"] == 0:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt.select("node")
    return dist


@query(
    "bfs_levels",
    oracle=f"""
    with recursive e0 as (
      select distinct l1.l_partkey::BIGINT as a, l2.l_partkey::BIGINT as b
      from lineitem l1 join lineitem l2
        on l1.l_orderkey = l2.l_orderkey and l1.l_partkey < l2.l_partkey
    ),
    e as (select a as src, b as dst from e0 union all select b, a from e0),
    walk(node, dist) as (
      select distinct src as node, 0 as dist from e where src <= {BFS_SEED_MAX}
      union
      select e.dst, w.dist + 1 from walk w join e on e.src = w.node
      where w.dist < {BFS_MAX_HOPS}
    )
    select node, min(dist)::BIGINT as dist from walk group by node
    """,
)
def bfs_levels(spark, sf_dir):
    """Hop distance (<= BFS_MAX_HOPS) from the seed parts over the
    co-purchase graph.  Same edge derivation as triangle_count; the
    per-order pair explosion is bounded by TPC-H's <= 7 lines/order."""
    from .registry import table as _table

    li = _table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e0 = (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(
            F.col("x.l_partkey").cast("long").alias("a"),
            F.col("y.l_partkey").cast("long").alias("b"),
        )
        .distinct()
    )
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    seeds = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") <= BFS_SEED_MAX)
        .distinct()
    )
    return bfs_levels_frontier(edges, seeds, BFS_MAX_HOPS)


# --------------------------------------------------------- TextRank keywords
# TextRank (Mihalcea & Tarau 2004): keyword extraction = PageRank over
# the token-adjacency co-occurrence graph.  Composes two library pieces
# end-to-end — the corpus tokenizer (text.py lockstep regex) and the
# generic ``pagerank`` kernel — and the oracle re-derives BOTH: bigram
# edges via aligned list unnests, ranks via the unrolled _SQL_PR_CHAIN.
#
# Scale shape: the edge build is one explode + a lead() window that
# reuses the doc-keyed partitioning (no second exchange), then a distinct
# on (t1, t2) — bounded by the corpus bigram vocabulary, NOT the token
# count.  The rank loop inherits pagerank's audited per-round plan.
TEXTRANK_TOPK = 20

_SQL_TEXTRANK_EDGES = r"""
toks as (
  select doc_id, list_filter(regexp_split_to_array(lower(text), '\W+'), t -> t <> '') as ts
  from documents
),
bi as (
  select distinct t1, t2 from (
    select unnest(ts[1:len(ts) - 1]) as t1, unnest(ts[2:len(ts)]) as t2
    from toks where len(ts) >= 2
  ) where t1 <> t2
),
sym as (select t1 as src, t2 as dst from bi union select t2, t1 from bi),
nodes as (select distinct src as node from sym),
nn as (select count(*)::DOUBLE as n from nodes),
deg as (select src, count(*)::DOUBLE as d from sym group by src),
w as (select sym.src, sym.dst, 1.0 / deg.d as w from sym join deg using (src))
"""


@query(
    "keyword_textrank",
    oracle=f"""
    with {_SQL_TEXTRANK_EDGES},
    {_SQL_PR_CHAIN}
    select term, rank from (
      select node as term, round(r, {ROUND}) as rank,
             row_number() over (order by round(r, {ROUND}) desc, node) as rn
      from r{PR_ITERS}
    ) where rn <= {TEXTRANK_TOPK}
    """,
)
def keyword_textrank(spark, sf_dir):
    """Top-{k} corpus keywords by PageRank over the undirected
    token-adjacency graph.""".format(k=TEXTRANK_TOPK)
    from pyspark.sql import Window

    from .registry import table as _table
    from .text import _tokens_col

    docs = _table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.posexplode(_tokens_col()).alias("pos", "t1"))
    nxt = F.lead("t1").over(Window.partitionBy("doc_id").orderBy("pos"))
    bi = (
        tok.withColumn("t2", nxt)
        .where(F.col("t2").isNotNull() & (F.col("t1") != F.col("t2")))
        .select("t1", "t2")
        .distinct()
    )
    edges = (
        bi.select(F.col("t1").alias("src"), F.col("t2").alias("dst"))
        .unionByName(bi.select(F.col("t2").alias("src"), F.col("t1").alias("dst")))
        .distinct()
    )
    ranks = pagerank(edges).select(
        F.col("node").alias("term"), F.round("r", ROUND).alias("rank")
    )
    return ranks.orderBy(F.desc("rank"), F.asc("term")).limit(TEXTRANK_TOPK)
