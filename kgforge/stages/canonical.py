"""Stage 4 — canonicalization: candidate_links -> entities (connected
components via alternating large-star/small-star, Kiveris et al.,
"Connected Components in MapReduce and Beyond").

The reference only canonicalizes pairwise (swap so c1 >= c2,
/root/reference/experiments/uaz_documents_comparison.py:237-238) and builds
a driver-side adjacency matrix (/root/reference/data/wm_ontology.py:40-71);
transitive canonicalization over a distributed edge set is the genuinely
new strategy SURVEY.md §4 N4 calls for.

Scale notes:
- O(log n) rounds; every round is two groupBy-join passes over the edge
  set — pure DataFrame ops, AQE-skew-safe.
- ``iterate.checkpoint`` each round truncates lineage (SURVEY.md §7.2(b))
  and observes an order-insensitive edge-set fingerprint (count + bit_xor
  of xxhash64) in the same job; the loop stops when it repeats, after at
  most ``MAX_ROUNDS`` rounds.
- Node ids are strings; min == lexicographic min, deterministic across
  partition counts.
- Small graphs never reach the rounds: one capped collect of the raw
  links (no dedup shuffle — union-find ignores duplicate edges and
  self-loops) feeds a driver-side union-find.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import iterate
from ..session import local_frame


def _dedup(edges: DataFrame) -> DataFrame:
    return edges.where(F.col("src") != F.col("dst")).distinct()


def large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to
    min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .withColumn("m", F.least(F.col("_mn"), F.col("src")))
        .select("src", "m")
    )
    out = (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return _dedup(out)


def small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect all smaller-or-equal neighbors (and u) to
    the minimum of that set."""
    orient = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = orient.groupBy("src").agg(F.min("dst").alias("m"))
    out = (
        orient.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("m").alias("dst")))
    )
    return _dedup(out)


def _observed(edges: DataFrame) -> tuple[DataFrame, dict]:
    """Checkpoint ``edges``, observing the round's fingerprint."""
    return iterate.checkpoint(
        edges, F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("src", "dst")).alias("h")
    )


def _local_components(spark, rows) -> DataFrame:
    """Driver-side union-find for small edge sets (bounded collect).

    The adaptive fast path: when the candidate-link graph fits comfortably
    on the driver, log(n) distributed rounds are pure overhead — one
    collect + one createDataFrame beats ~10 shuffle stages.  Output is
    identical to the iterative path (tests assert equivalence)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            lo, hi = sorted((ra, rb))
            parent[hi] = lo
    out = [(x, find(x)) for x in parent if find(x) != x]
    pdf = pd.DataFrame(out, columns=["entity_id", "canonical_id"])
    # one partition: the stage table is then one file, and materialize's
    # capped mapping probe reads one split
    return local_frame(spark, pdf, "entity_id string, canonical_id string").coalesce(1)


# rows the first path probe of connected_components collects
LOCAL_PROBE_ROWS = 100_000
# bound on the distributed large-star/small-star rounds
MAX_ROUNDS = 20


def connected_components(links: DataFrame, local_threshold: int = 1_000_000) -> DataFrame:
    """CANDIDATE_LINKS(a, b, ...) -> ENTITIES(entity_id, canonical_id).

    Adaptive: edge sets under ``local_threshold`` run driver-side
    union-find (one job); larger ones run the distributed
    large-star/small-star loop.  Nodes that never appear in a link are
    their own canonical entity and are NOT emitted here; consumers use
    ``canonicalize`` (left join + coalesce) so the mapping table stays
    proportional to the linked subgraph, not the full entity universe —
    that is what makes the canonical dictionary broadcast-able (north_rule).
    """
    raw = links.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    # Bounded probe, capped as materialize.triples_from_packed caps its
    # mapping probe: ONE limit(cap+1).collect() of the RAW links settles a
    # graph of at most LOCAL_PROBE_ROWS edges and IS the union-find's input
    # (union-find ignores duplicate edges and self-loops, so the probe
    # skips _dedup's shuffle).  Past the cap the deduped edges are
    # checkpointed once, observing the size and the first fingerprint, so
    # the union-find collect and the first distributed round share one
    # pass over the _dedup plan.
    spark = links.sparkSession
    if local_threshold > 0:
        cap = min(local_threshold, LOCAL_PROBE_ROWS)
        rows = raw.limit(cap + 1).collect()
        if len(rows) <= cap:
            return _local_components(spark, rows)
    edges, prev = _observed(_dedup(raw))
    if local_threshold > LOCAL_PROBE_ROWS and prev["n"] <= local_threshold:
        return _local_components(spark, edges.collect())

    # String rounds.  groupBy-min on STRING ids means SortAggregate
    # (var-length agg buffers disable hash aggregation) — measured and
    # ACCEPTED: an xxhash64-encoded numeric-rounds variant (2M nodes / 3M
    # edges, warmed, order-alternated) clocked 52.2s vs 43.1s for strings,
    # because its extra vertex-distinct, collision-check and
    # representative-recovery passes are each proportional to the graph
    # and together outweigh the per-round hash-vs-sort aggregate savings
    # (~6 rounds at this diameter).  Sort-based aggregation also spills
    # gracefully, and the edge set shrinks every round.  Numbers in
    # BASELINE.md §Measured — round 2.
    for _ in range(MAX_ROUNDS):
        edges, cur = _observed(small_star(large_star(edges)))
        if cur == prev:
            break
        prev = cur
    # Converged edge set is a star forest pointing at component minima.
    orient = edges.select(
        F.greatest("src", "dst").alias("entity_id"), F.least("src", "dst").alias("canonical_id")
    )
    return orient.groupBy("entity_id").agg(F.min("canonical_id").alias("canonical_id"))


def canonicalize(df: DataFrame, mapping: DataFrame, col: str, broadcast: bool = True) -> DataFrame:
    """Replace ``col`` with its canonical id (identity when unmapped).

    The mapping is broadcast when it fits (north_rule: "broadcast of the
    canonical-entity dictionary when it fits") — pass broadcast=False to
    fall back to a shuffled join for huge dictionaries.
    """
    m = mapping.withColumnRenamed("entity_id", col)
    if broadcast:
        m = F.broadcast(m)
    return (
        df.join(m, col, "left")
        .withColumn(col, F.coalesce(F.col("canonical_id"), F.col(col)))
        .drop("canonical_id")
    )
