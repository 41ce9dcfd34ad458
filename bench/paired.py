"""Paired fresh-JVM scaling harness shared by the bench/*_scaling.py
scripts (north_rule: throughput scaling efficiency >= 0.8 from N to 4N
executors).

No real cluster exists in this sandbox, so a script's job runs at two
parallelism levels — local[2] (N) and local[8] (4N) by default — over
the SAME pre-materialized parquet input, each level in a fresh JVM
(``python SCRIPT --worker CPUS ...`` subprocess).  A worker prints one
``{"cpus": ..., "kernels": {name: {"secs", "rows", "sig", ...}}}`` JSON
line; efficiency per kernel = (t_N / t_4N) / (4N / N).

The headline statistic is PAIRED: each repeat runs local[2] then
local[8] back-to-back and yields one efficiency number per kernel; the
series of per-pair efficiencies is reported with its median and the
count of windows clearing the target.  Minima assembled across
different pairs are reported, labeled, as the uncontended-cost
estimate — never as the gate — because this Firecracker host shows
intermittent multi-minute noise windows where identical jobs vary up to
3x, and a window spanning a whole pair hits both levels and cancels in
the ratio.  Every leg of every pair must reproduce the first leg's
``rows``/``sig`` for every kernel.

local[2]/local[8] rather than 8/32: this VM's ~32 vCPUs sit on a host
whose measured memory bandwidth saturates for Spark's string-heavy
stages somewhere above ~8-12 concurrent task threads (a pure-CPU probe
still scales to 16+, but identical triples jobs measure SLOWER at
local[16/32] than local[8]).  On a real multi-executor cluster each 4N
step adds nodes with their own DRAM, so the single-box bandwidth wall is
an artifact; 2->8 keeps both measurement points inside the host's linear
region.  Override with --cores.

BLAS threading is forced to 1 (OMP/OPENBLAS/MKL/Arrow) in every worker
so the "N-core" run cannot borrow extra physical cores for numpy math.
CPU pinning was evaluated and rejected: pinned CPU sets collapse under
this hypervisor's vCPU stealing (identical jobs 2.4s unpinned vs 14-30s
pinned), measuring the hypervisor rather than the engine.

Shuffle spill and checkpoint tables go to tmpfs (``/dev/shm``, through
``KGFORGE_LOCAL_DIR``): the sandbox analog of executor-local NVMe —
measuring one shared virtual disk would report disk contention, not
engine scaling.
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

THREAD_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "ARROW_NUM_THREADS": "1",
}


def parser(repeats: int, out: str) -> argparse.ArgumentParser:
    """The flags every scaling script takes; scripts add their own."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", default="2,8")
    ap.add_argument(
        "--repeats", type=int, default=repeats,
        help="paired invocations (lo+hi back-to-back); the reported series "
        "has one efficiency per pair",
    )
    ap.add_argument("--target", type=float, default=0.8)
    ap.add_argument("--worker", type=int, default=0)
    ap.add_argument("--out", default=out)
    ap.add_argument("rest", nargs="*")
    return ap


def tmpfs_root() -> str:
    """Point ``KGFORGE_LOCAL_DIR`` at a fresh tmpfs dir unless the caller
    set it; returns the dir that holds it, where inputs and logs go."""
    if os.path.isdir("/dev/shm") and "KGFORGE_LOCAL_DIR" not in os.environ:
        base = tempfile.mkdtemp(prefix="kgpaired_shm_", dir="/dev/shm")
        os.environ["KGFORGE_LOCAL_DIR"] = os.path.join(base, "local")
    local = os.environ.get("KGFORGE_LOCAL_DIR")
    return os.path.dirname(local) if local else tempfile.gettempdir()


def checksum(df, cols) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over ``cols``) — order-free, so
    equal at any partitioning."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("sig"),
    ).first()
    return int(row["n"]), int(row["sig"] or 0)


def best_of(reps: int, run, release=None):
    """Time ``run(rep)`` for each rep; returns (best secs, best result,
    walls).  Strict ``<``: the earliest rep wins a tie.  After each rep,
    outside the timed window, ``release(loser)`` gets the result that
    just dropped out — the previous best or the rep itself — or None
    after rep 0."""
    walls: list[float] = []
    best = None
    for rep in range(reps):
        t0 = time.time()
        got = run(rep)
        wall = round(time.time() - t0, 3)
        walls.append(wall)
        if best is None or wall < best[0]:
            loser = best[1] if best else None
            best = (wall, got)
        else:
            loser = got
        if release is not None:
            release(loser)
    return best[0], best[1], walls


def spawn(script: str, cpus: int, argv: list[str], tmp_root: str) -> dict:
    """Run ``script --worker CPUS *argv`` in a fresh JVM; return its last
    ``{"cpus"`` JSON line.  The log is deleted after a clean parse and
    kept (its path in the error) otherwise."""
    fd, log_path = tempfile.mkstemp(prefix=f"kgpaired{cpus}_", suffix=".log", dir=tmp_root)
    cmd = [sys.executable, script, "--worker", str(cpus), *argv]
    with os.fdopen(fd, "w") as log:
        rc = subprocess.run(
            cmd, stdout=log, stderr=subprocess.STDOUT, env={**os.environ, **THREAD_ENV}
        ).returncode
    with open(log_path) as log:
        lines = [ln.lstrip() for ln in log.read().splitlines() if ln.lstrip().startswith('{"cpus"')]
    if rc or not lines:
        raise RuntimeError(f"worker local[{cpus}] of {script} exited {rc}; log: {log_path}")
    os.remove(log_path)
    return json.loads(lines[-1])


def run_pairs(script, argv, lo, hi, repeats, tmp_root, extra=None) -> list[dict]:
    """``repeats`` pairs of (local[lo], local[hi]) legs; one entry per
    pair mapping each kernel to its two secs, ``rows``, ``sig`` and
    ``eff``, plus ``extra(kernel, lo_leg, hi_leg)`` when given."""
    ratio = hi / lo
    first = None
    series = []
    for rep in range(repeats):
        legs = [spawn(script, lo, argv, tmp_root), spawn(script, hi, argv, tmp_root)]
        first = first or legs[0]["kernels"]
        for leg in legs:
            for k, want in first.items():
                got = leg["kernels"][k]
                if (got["rows"], got["sig"]) != (want["rows"], want["sig"]):
                    raise AssertionError(
                        f"nondeterministic {k} at local[{leg['cpus']}]: {got} vs {want}"
                    )
        pair = {}
        for k in first:
            a, b = legs[0]["kernels"][k], legs[1]["kernels"][k]
            pair[k] = {
                f"local{lo}_secs": a["secs"],
                f"local{hi}_secs": b["secs"],
                "rows": a["rows"],
                "sig": a["sig"],
                "eff": round((a["secs"] / b["secs"]) / ratio, 3),
                **(extra(k, a, b) if extra else {}),
            }
        series.append(pair)
        print(json.dumps({"pair": rep + 1, **pair}), flush=True)
    return series


def summarize(series, lo, hi, target) -> dict:
    """Per kernel: paired median efficiency (the gate), windows at or
    above ``target``, best pair, and the cross-pair minimum secs."""
    summary = {}
    for k in series[0]:
        effs = [p[k]["eff"] for p in series]
        summary[k] = {
            "median_eff": round(statistics.median(effs), 3),
            "windows_passing": sum(1 for e in effs if e >= target),
            "best_eff": max(effs),
            f"local{lo}_min_secs": min(p[k][f"local{lo}_secs"] for p in series),
            f"local{hi}_min_secs": min(p[k][f"local{hi}_secs"] for p in series),
        }
    return summary


def write(path: str, out: dict) -> None:
    """Write the artifact and print its summary."""
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"summary": out["summary"]}), flush=True)
