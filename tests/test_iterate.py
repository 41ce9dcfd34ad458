"""iterate.checkpoint: one job truncates a loop's state and reads its
probes.  The kernel pins count the Spark jobs one call launches on a small
fixed graph (local[4], 8 shuffle partitions), output collect included;
each bound is below the count the same call ran when every round
followed its checkpoint with a separate probe job."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from kgforge import iterate
from kgforge.operators import codegraph
from kgforge.operators.graph import kcore_peel
from kgforge.stages.canonical import connected_components

# jobs per call, measured 44, 25, 124-127 and 215-216; the loops that
# probed after each checkpoint ran 56, 29, 140-142 and 252-254
CC_JOBS = 46
KCORE_JOBS = 26
SCC_JOBS = 132
DEP_LAYERS_JOBS = 226


def _jobs(spark, group, fn):
    """(fn's result, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _pairs(n_nodes, n_edges, seed):
    rng = random.Random(seed)
    return sorted(
        {
            (f"n{a:03d}", f"n{b:03d}")
            for a, b in ((rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges))
            if a != b
        }
    )


def test_checkpoint_reads_probes_from_its_own_job(spark):
    df = spark.range(100).select(F.col("id").cast("string").alias("a"))
    (ck, seen), jobs = _jobs(
        spark,
        "iterate_probe",
        lambda: iterate.checkpoint(
            df, F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("a")).alias("h")
        ),
    )
    assert len(jobs) == 1, jobs
    assert seen == {"n": 100, "h": df.agg(F.bit_xor(F.xxhash64("a"))).first()[0]}
    assert ck.count() == 100
    empty, seen = iterate.checkpoint(df.where("a = 'x'"), F.count(F.lit(1)).alias("n"))
    assert seen == {"n": 0} and empty.count() == 0
    assert iterate.checkpoint(df)[1] == {}


def test_connected_components_job_budget(spark):
    pairs = _pairs(120, 90, seed=3)
    links = spark.createDataFrame(pairs, "a string, b string")
    rows, jobs = _jobs(
        spark, "iterate_cc", lambda: connected_components(links, local_threshold=0).collect()
    )
    parent = {}
    for a, b in pairs:  # union-find reference: component minimum
        ra, rb = parent.setdefault(a, a), parent.setdefault(b, b)
        while parent[ra] != ra:
            ra = parent[ra]
        while parent[rb] != rb:
            rb = parent[rb]
        parent[max(ra, rb)] = min(ra, rb)

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    assert {r.entity_id: r.canonical_id for r in rows} == {
        x: root(x) for x in parent if root(x) != x
    }
    assert len(jobs) <= CC_JOBS, len(jobs)


def test_kcore_peel_job_budget(spark):
    # every one of the 4 rounds removes nodes: the k=4 peel of this graph
    # cascades for more rounds than that
    und = _pairs(400, 1200, seed=7)
    sym = spark.createDataFrame(und + [(b, a) for a, b in und], "src string, dst string")
    rows, jobs = _jobs(
        spark, "iterate_kcore", lambda: kcore_peel(sym.distinct(), 4, 4).collect()
    )
    assert rows
    assert len(jobs) <= KCORE_JOBS, len(jobs)


def test_scc_labels_job_budget(spark):
    e = spark.createDataFrame(_pairs(40, 120, seed=11), "src_repo string, dst_repo string")
    rows, jobs = _jobs(spark, "iterate_scc", lambda: codegraph.scc_labels(e).collect())
    assert len({r.scc_id for r in rows}) < len(rows)  # some cycle contracts
    assert len(jobs) <= SCC_JOBS, len(jobs)


def test_dep_layers_job_budget(spark):
    # 18 repos in 3 tiers of 6; each tier is one cycle through its hub
    # r0, and two of its repos depend on a random repo of the next tier:
    # the condensation is a 3-layer chain
    rng = random.Random(17)
    pairs = []
    for t in range(3):
        pairs += [(f"t{t}r{i}", f"t{t}r0") for i in range(1, 6)]
        pairs += [(f"t{t}r0", f"t{t}r{i}") for i in range(1, 6)]
        if t < 2:
            pairs += [(f"t{t}r{i}", f"t{t + 1}r{rng.randrange(6)}") for i in rng.sample(range(6), 2)]
    deps = spark.createDataFrame(pairs, "src_repo string, dst_repo string")
    rows, jobs = _jobs(spark, "iterate_dep_layers", lambda: codegraph.dep_layers(deps).collect())
    got = {r.repo: r.layer for r in rows}
    assert got == {f"t{t}r{i}": 2 - t for t in range(3) for i in range(6)}
    assert len(jobs) <= DEP_LAYERS_JOBS, len(jobs)
