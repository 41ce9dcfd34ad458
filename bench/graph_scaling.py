"""Scaling evidence for the iterative GRAPH kernels (round-3 judge asks
#4 and #6): PageRank (broadcast vs partitioned plans), k-core peeling,
label propagation, and BFS levels over the REAL 1M-file entity graph —
not the sf-toy concept graphs the oracle gate uses.

Methodology (paired fresh-JVM legs, N vs 4N): bench/paired.py.

The edge table is materialized ONCE by running the full KG pipeline on a
deterministic synthetic corpus at local[32] and symmetrizing its triple
graph (operators.graph.triple_edges) — so the benched graph is the
pipeline's actual output distribution (power-law-ish entity degrees),
not a synthetic uniform graph.

Determinism across parallelism levels is enforced per kernel: exact
kernels (kcore / label_propagation / bfs) must produce identical
count + bit_xor(xxhash64(...)) checksums at every leg; pagerank
checks node count (float partial-sum order varies with partitioning, so
its rank values are compared by the oracle gate at sf scale instead).

Usage:
    python bench/graph_scaling.py --files 1000000 --repeats 5
    python bench/graph_scaling.py --worker 8 EDGES_DIR --kernels pagerank_part

Results -> BENCH_SCALING_GRAPH.json, summarized in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import paired

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

ALL_KERNELS = [
    "pagerank_bcast",
    "pagerank_part",
    "pagerank_stages",
    "kcore",
    "label_propagation",
    "bfs_levels",
    "bfs_part",
]

# k is env-overridable because the 1M-file entity graph is DENSE
# (degree P5=14, median 22): the default k=3 reaches its fixpoint after
# one round (11 removals), so a k=3 run measures only fixed costs.
# KGFORGE_KCORE_K=16 peels ~97k nodes in round 1 with real cascades —
# the configuration the headline kcore scaling artifact uses.
KCORE_K = int(os.environ.get("KGFORGE_KCORE_K", "3"))
KCORE_ROUNDS = int(os.environ.get("KGFORGE_KCORE_ROUNDS", "4"))
LP_ITERS = 2
BFS_HOPS = 3
BFS_SEEDS = 100


def _run_kernel(spark, name: str, edges):
    """Returns (rows, checksum-or-None, stage-walls-or-None); forces full
    execution."""
    from pyspark.sql import functions as F

    from kgforge.operators import graph as G

    if name == "pagerank_bcast":
        n = G.pagerank(edges).count()
        return n, None, None
    if name == "pagerank_part":
        n = G.pagerank(edges, partitioned=True).count()
        return n, None, None
    if name == "pagerank_stages":
        return _pagerank_stage_walls(edges)
    if name == "kcore":
        peel = G.kcore_peel(edges, KCORE_K, KCORE_ROUNDS)
        return (*paired.checksum(peel, ["node", "core_degree"]), None)
    if name == "label_propagation":
        labels = G.label_propagation(edges, LP_ITERS)
        return (*paired.checksum(labels, ["node", "lab"]), None)
    if name in ("bfs_levels", "bfs_part"):
        seeds = edges.select(F.col("src").alias("node")).distinct().orderBy("node").limit(BFS_SEEDS)
        return (
            *paired.checksum(
                G.bfs_levels_frontier(edges, seeds, BFS_HOPS, partitioned=(name == "bfs_part")),
                ["node", "dist"],
            ),
            None,
        )
    raise ValueError(name)


def _pagerank_stage_walls(edges):
    """Per-stage decomposition of ONE partitioned-PageRank round (judge
    ask #4's 'prove the ceiling' branch): times the loop-invariant builds
    and one round's two legs separately, so the paired run shows WHICH
    stage anti-scales.  Stage isolation uses localCheckpoint barriers
    between legs (the contrib table is materialized before the rebuild
    leg so each wall covers exactly one exchange+agg pipeline)."""
    from pyspark.sql import functions as F

    from kgforge.cachectl import tracked_cache

    stages: dict[str, float] = {}
    t = time.time()
    sym = tracked_cache(edges)
    sym.count()
    stages["edge_cache"] = round(time.time() - t, 3)

    t = time.time()
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    w = tracked_cache(
        sym.join(deg.hint("merge"), "src")  # as pagerank(partitioned=True) builds w
        .select("src", "dst", (F.lit(1.0) / F.col("d")).alias("w"))
        .repartition("src")
    )
    w.count()
    stages["w_build"] = round(time.time() - t, 3)

    t = time.time()
    nodes = tracked_cache(
        sym.select(F.col("src").alias("node"))
        .unionByName(sym.select(F.col("dst").alias("node")))
        .distinct()
        .repartition("node")
    )
    n = nodes.count()
    stages["nodes_build"] = round(time.time() - t, 3)

    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    t = time.time()
    contrib = (
        w.join(ranks.hint("shuffle_hash"), w["src"] == ranks["node"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("w") * F.col("r")).alias("contrib"))
        .localCheckpoint()
    )
    stages["round_contrib"] = round(time.time() - t, 3)

    t = time.time()
    nodes.join(contrib.hint("shuffle_hash"), "node", "left").select(
        "node", (F.lit(0.15 / n) + F.lit(0.85) * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("r")
    ).localCheckpoint()
    stages["round_rebuild"] = round(time.time() - t, 3)
    return n, None, stages


def worker(cpus: int, edges_dir: str, kernels: list[str]) -> None:
    from kgforge.cachectl import release_caches
    from kgforge.session import build_session

    spark = build_session(f"kgforge-gscale-{cpus}", master=f"local[{cpus}]")
    edges = spark.read.parquet(edges_dir)
    edges.count()  # scan metadata warm-up, excluded

    result: dict = {"cpus": cpus, "kernels": {}}
    for name in kernels:
        # min-of-2 FULL runs per kernel (bench/codegraph_scaling.py
        # rationale): a limit()-slice warm-up compiles a CollectLimit
        # plan, not the full-input whole-stage-codegen shapes, so the
        # fresh JVM's first timed run still pays the serial JIT — and for
        # the iterative kernels every ROUND's stage shapes JIT on first
        # execution.  A long-lived cluster executor amortizes all of it;
        # the warm (second) run is the engine's scaling property, and the
        # min also absorbs one-sided host-steal windows.
        secs, (rows, sig, stages), walls = paired.best_of(
            2, lambda _: _run_kernel(spark, name, edges), lambda _: release_caches()
        )
        entry = {"secs": secs, "walls": walls, "rows": rows, "sig": sig}
        if stages:
            entry["stages"] = stages
        result["kernels"][name] = entry
    print(json.dumps(result))


def materialize_edges(files: int, tmp_root) -> str:
    """Synth corpus -> full pipeline at local[32] -> symmetrized entity
    edge parquet.  One-time setup, excluded from all timings."""
    from kgforge import synth
    from kgforge.operators.graph import triple_edges
    from kgforge.pipeline import run_pipeline
    from kgforge.session import build_session

    spark = build_session("kgforge-gscale-gen", master="local[32]")
    in_dir = tempfile.mkdtemp(prefix="kggscale_in_", dir=tmp_root)
    synth.synth_files_df(spark, files).write.mode("overwrite").parquet(in_dir)
    run_root = tempfile.mkdtemp(prefix="kggscale_run_", dir=tmp_root)
    out = run_pipeline(spark, spark.read.parquet(in_dir), run_root)
    edges_dir = tempfile.mkdtemp(prefix="kggscale_edges_", dir=tmp_root)
    triple_edges(out["triples"]).write.mode("overwrite").parquet(edges_dir)
    n = spark.read.parquet(edges_dir).count()
    print(json.dumps({"setup": {"files": files, "edges": n, "edges_dir": edges_dir}}), flush=True)
    spark.stop()
    return edges_dir


def main() -> None:
    ap = paired.parser(5, os.path.join(_REPO_ROOT, "BENCH_SCALING_GRAPH.json"))
    ap.add_argument("--files", type=int, default=1_000_000)
    ap.add_argument("--kernels", default=",".join(ALL_KERNELS))
    ap.add_argument("--edges-dir", default=None, help="reuse a materialized edge parquet")
    args = ap.parse_args()
    kernels = [k for k in args.kernels.split(",") if k]

    if args.worker:
        worker(args.worker, args.rest[0], kernels)
        return

    tmp_root = paired.tmpfs_root()
    edges_dir = args.edges_dir or materialize_edges(args.files, tmp_root)

    lo, hi = (int(c) for c in args.cores.split(","))

    def stage_effs(_, a, b):
        if not a.get("stages"):
            return {}
        return {"stages": {
            s: {
                f"local{lo}": a["stages"][s],
                f"local{hi}": b["stages"][s],
                "eff": round((a["stages"][s] / max(b["stages"][s], 1e-9)) / (hi / lo), 3),
            }
            for s in a["stages"]
        }}

    series = paired.run_pairs(
        __file__, [edges_dir, "--kernels", ",".join(kernels)], lo, hi, args.repeats, tmp_root,
        extra=stage_effs,
    )
    paired.write(args.out, {
        "files": args.files,
        "cores": [lo, hi],
        "kernels": kernels,
        "kernel_params": {
            "kcore": {"k": KCORE_K, "rounds": KCORE_ROUNDS},
            "label_propagation": {"iters": LP_ITERS},
            "bfs_levels": {"hops": BFS_HOPS, "seeds": BFS_SEEDS},
        },
        "method": (
            f"{args.repeats} PAIRED fresh-JVM invocations per level over one "
            "pre-materialized entity-graph edge parquet (full pipeline output "
            f"at {args.files} files); per-kernel min-of-2 full runs in the "
            "live JVM (run 1 pays the serial per-round codegen JIT, run 2 "
            "is the engine — artifacts predating BENCH_SCALING_GRAPH_WARM "
            "used a limit()-slice warm-up instead); "
            "exact kernels checksum-equal across levels; gate = paired median"
        ),
        "series": series,
        "summary": paired.summarize(series, lo, hi, args.target),
        "target": args.target,
    })


if __name__ == "__main__":
    sys.exit(main())
