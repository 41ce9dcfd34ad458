"""Scaling evidence for the iterative GRAPH kernels (round-3 judge asks
#4 and #6): PageRank (broadcast vs partitioned plans), k-core peeling,
label propagation, and BFS levels over the REAL 1M-file entity graph —
not the sf-toy concept graphs the oracle gate uses.

Methodology is bench/scaling.py's, inherited verbatim: the same job runs
at two parallelism levels (default local[2] vs local[8] — both inside
this host's linear memory-bandwidth region, see bench/scaling.py's
docstring for why not 8/32) over the SAME pre-materialized edge parquet,
each pair in fresh JVMs, paired back-to-back so host-steal windows hit
both levels or neither; the gate statistic is the paired-series median
efficiency per kernel.  Single-threaded BLAS, tmpfs spill dirs.

The edge table is materialized ONCE by running the full KG pipeline on a
deterministic synthetic corpus at local[32] and symmetrizing its triple
graph (operators.graph.triple_edges) — so the benched graph is the
pipeline's actual output distribution (power-law-ish entity degrees),
not a synthetic uniform graph.

Determinism across parallelism levels is enforced per kernel: exact
kernels (kcore / label_propagation / bfs) must produce identical
count + bit_xor(xxhash64(...)) checksums at both levels; pagerank
checks node count (float partial-sum order varies with partitioning, so
its rank values are compared by the oracle gate at sf scale instead).

Usage:
    python bench/graph_scaling.py --files 1000000 --repeats 5
    python bench/graph_scaling.py --worker 8 EDGES_DIR --kernels pagerank_part

Results -> BENCH_SCALING_GRAPH.json, summarized in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

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


def _checksum(df, cols):
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("sig"),
    ).first()
    return int(row["n"]), int(row["sig"] or 0)


def _run_kernel(spark, name: str, edges):
    """Returns (rows, checksum-or-None, stage-walls-or-None); forces full
    execution."""
    from pyspark.sql import functions as F

    from kgforge.operators import graph as G

    if name == "pagerank_bcast":
        n = G.pagerank(edges, checkpoint=True).count()
        return n, None, None
    if name == "pagerank_part":
        n = G.pagerank(edges, checkpoint=True, partitioned=True).count()
        return n, None, None
    if name == "pagerank_stages":
        return _pagerank_stage_walls(edges)
    if name == "kcore":
        return (*_checksum(G.kcore_peel(edges, KCORE_K, KCORE_ROUNDS), ["node", "core_degree"]), None)
    if name == "label_propagation":
        return (*_checksum(G.label_propagation(edges, LP_ITERS, checkpoint=True), ["node", "lab"]), None)
    if name in ("bfs_levels", "bfs_part"):
        seeds = edges.select(F.col("src").alias("node")).distinct().orderBy("node").limit(BFS_SEEDS)
        return (
            *_checksum(
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
        sym.join(deg, "src")
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
        walls = []
        rows = sig = stages = None
        for _ in range(2):
            t0 = time.time()
            rows, sig, stages = _run_kernel(spark, name, edges)
            walls.append(round(time.time() - t0, 3))
            release_caches()
        entry = {"secs": min(walls), "walls": walls, "rows": rows, "sig": sig}
        if stages:
            entry["stages"] = stages
        result["kernels"][name] = entry
    print(json.dumps(result))


def _spawn(cpus: int, edges_dir: str, kernels: list[str], tmp_root, thread_env) -> dict:
    log_path = tempfile.mktemp(prefix=f"kggscale{cpus}_", suffix=".log", dir=tmp_root)
    cmd = [
        sys.executable, __file__, "--worker", str(cpus), edges_dir,
        "--kernels", ",".join(kernels),
    ]
    with open(log_path, "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                       env={**os.environ, **thread_env})
    with open(log_path) as log:
        line = [ln for ln in log.read().splitlines() if ln.lstrip().startswith('{"cpus"')][-1]
    return json.loads(line.lstrip())


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
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=1_000_000)
    ap.add_argument("--cores", default="2,8")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--target", type=float, default=0.8)
    ap.add_argument("--kernels", default=",".join(ALL_KERNELS))
    ap.add_argument("--edges-dir", default=None, help="reuse a materialized edge parquet")
    ap.add_argument("--worker", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(_REPO_ROOT, "BENCH_SCALING_GRAPH.json"))
    ap.add_argument("rest", nargs="*")
    args = ap.parse_args()
    kernels = [k for k in args.kernels.split(",") if k]

    if args.worker:
        worker(args.worker, args.rest[0], kernels)
        return

    if os.path.isdir("/dev/shm") and "KGFORGE_LOCAL_DIR" not in os.environ:
        base = tempfile.mkdtemp(prefix="kggscale_shm_", dir="/dev/shm")
        os.environ["KGFORGE_LOCAL_DIR"] = os.path.join(base, "local")
    tmp_base = os.environ.get("KGFORGE_LOCAL_DIR")
    tmp_root = os.path.dirname(tmp_base) if tmp_base else None

    edges_dir = args.edges_dir or materialize_edges(args.files, tmp_root)

    lo, hi = (int(c) for c in args.cores.split(","))
    ratio = hi / lo
    thread_env = {
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "ARROW_NUM_THREADS": "1",
    }

    series = []
    for rep in range(args.repeats):
        got_lo = _spawn(lo, edges_dir, kernels, tmp_root, thread_env)
        got_hi = _spawn(hi, edges_dir, kernels, tmp_root, thread_env)
        pair: dict = {}
        for k in kernels:
            a, b = got_lo["kernels"][k], got_hi["kernels"][k]
            assert a["rows"] == b["rows"] and a["sig"] == b["sig"], (
                f"nondeterministic {k}: {a} vs {b}"
            )
            pair[k] = {
                f"local{lo}_secs": a["secs"],
                f"local{hi}_secs": b["secs"],
                "eff": round((a["secs"] / b["secs"]) / ratio, 3),
            }
            if a.get("stages"):
                pair[k]["stages"] = {
                    s: {
                        f"local{lo}": a["stages"][s],
                        f"local{hi}": b["stages"][s],
                        "eff": round((a["stages"][s] / max(b["stages"][s], 1e-9)) / ratio, 3),
                    }
                    for s in a["stages"]
                }
        series.append(pair)
        print(json.dumps({"pair": rep + 1, **pair}), flush=True)

    summary = {}
    for k in kernels:
        effs = [p[k]["eff"] for p in series]
        summary[k] = {
            "median_eff": round(statistics.median(effs), 3),
            "windows_passing": sum(1 for e in effs if e >= args.target),
            "best_eff": max(effs),
            f"local{lo}_min_secs": min(p[k][f"local{lo}_secs"] for p in series),
            f"local{hi}_min_secs": min(p[k][f"local{hi}_secs"] for p in series),
        }

    out = {
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
        "summary": summary,
        "target": args.target,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    sys.exit(main())
