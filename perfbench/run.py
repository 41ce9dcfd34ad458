"""kgforge benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload build_fixed_vocab --seed 1 --seconds 20 --trace 0

Run from the repository root.  The load is a closed loop with one client:
each pass starts when the previous one has finished.  Spark runs in this
process on local[<cpus>].

The process makes its input from the seed (``setup``, once: only the first
setup in a fresh process costs what a user pays), runs a cold pass and then
warm passes until ``--seconds`` have gone by (at least the workload's
``min_warm`` of them), checks the output against an independent reference,
and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns on
Spark's event log and the benchmark's spans and reports the per-layer
metrics instead (see layers.py).  Everything the run writes lives under
``.perfbench_work/`` in the working directory and is deleted at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

DEADLINE_S = 150.0  # stop starting passes after this much process time
DRIVER_MEM = "3g"
MIN_PR = 0.95


def configure_env() -> dict[str, str]:
    """Fit the process (and the Python workers Spark forks, which inherit
    this environment) to the machine; returns the settings for the
    record."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        # Spark's Python workers import kgforge from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # single-threaded BLAS and Arrow: Spark already runs one task per core
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "ARROW_NUM_THREADS": "1",
        "ARROW_IO_THREADS": "1",
        "KGFORGE_DRIVER_MEM": DRIVER_MEM,
        # shuffle spill, checkpoints and temp files stay in the work dir
        "KGFORGE_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # every JVM (spark-submit's launcher and the driver) keeps its temp
        # files in the work dir and writes no perf-data file to /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "SPARK_GRAFT_CPUS": str(cpus),
    }
    os.environ.update(env)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    return env


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin pipe
    closes) and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    sys.path.insert(0, ROOT)
    try:
        import kgforge  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    try:
        return _run(args, configure_env())
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args, settings) -> int:
    import host
    import workloads
    from kgforge.session import build_session
    from tracing import Tracer, fold_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    steal0 = host.steal_s()
    mem = host.mem_mb()
    attempted = failed = 0
    walls: list[float] = []
    checksums = []
    pass_sids: list[int] = []
    extra: dict = {}
    result: dict = {}
    # the RSS sampler scans /proc; only the traced run reports its peak
    rss = host.RssSampler(os.getpid()) if trace else contextlib.nullcontext()
    with rss:
        spark = build_session(
            f"perfbench-{args.workload}",
            master=f"local[{settings['SPARK_GRAFT_CPUS']}]",
            extra_conf=spark_conf(trace),
        )
        try:
            session_s = time.perf_counter() - T_START
            # spans set job groups in both modes; only --trace 1 adds the
            # layer spans and the event log
            tracer = Tracer(spark.sparkContext)
            wl = workloads.make(args.workload, spark, args.seed, WORK)
            if trace:
                wl.install_spans(tracer)
            tracer.run = "setup"
            t = time.perf_counter()
            with tracer.span("setup"):
                wl.setup()
            setup_s = time.perf_counter() - t

            t_meas = time.perf_counter()
            i = 0
            while True:
                tracer.run = f"p{i}"
                attempted += 1
                try:
                    t = time.perf_counter()
                    with tracer.span("pass") as sp:
                        res = wl.run_pass(i)
                    wall = time.perf_counter() - t
                    cs = wl.pass_checksum(res)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                else:
                    walls.append(wall)
                    pass_sids.append(sp.sid)
                    checksums.append(cs)
                    if cs != checksums[0]:
                        failed += 1
                i += 1
                elapsed = time.perf_counter() - t_meas
                if time.perf_counter() - T_START > DEADLINE_S:
                    break
                if i > wl.min_warm and elapsed >= args.seconds:
                    break

            tracer.run = "check"
            if wl.kind == "build" and checksums:
                attempted += 1  # the rerun onto the completed root
                try:
                    t = time.perf_counter()
                    with tracer.span("resume") as sp:
                        root = wl.resume()
                    extra["checkpoint.resume_s"] = time.perf_counter() - t
                    extra["checkpoint.resume_jobs"] = tracer.jobs(sp.sid)
                    if wl.pass_checksum(root) != checksums[0]:
                        failed += 1
                except Exception:
                    traceback.print_exc()
                    failed += 1
            attempted += 1  # the reference comparison
            try:
                chk = wl.check()
                result.update(chk)
                exact = chk["precision"] == chk["recall"] == 1.0
                if min(chk["precision"], chk["recall"]) < MIN_PR or (wl.kind == "consumers" and not exact):
                    failed += 1
            except Exception:
                traceback.print_exc()
                failed += 1
            cpu_s = host.tree_cpu_s(os.getpid())
        finally:
            stop_spark(spark)
    steal = host.steal_s() - steal0

    if len(walls) < 2:
        print("perfbench: fewer than two passes completed", file=sys.stderr)
        return 1
    warm_s = statistics.median(walls[1:])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(walls),
        "pass_walls_s": walls,
        "setup_wall_s": setup_s,
        "session_s": session_s,
        "failed_share": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "host": {"steal_s": steal, "tree_cpu_s": cpu_s, "mem_mb": mem, "cpus": settings["SPARK_GRAFT_CPUS"]},
        "settings": {**settings, "min_warm": wl.min_warm, "seconds": args.seconds},
        "info": wl.info,
    }
    if trace:
        import layers
        import selftest

        if selftest.expected_failures():
            print("perfbench: the event-log fold fails its self-test", file=sys.stderr)
            return 1
        groups = fold_event_log(os.path.join(WORK, "eventlog"))
        metrics = layers.layer_metrics(tracer, groups, pass_sids)
        metrics.update(result.get("counts", {}))
        metrics.update(extra)
        metrics.update(
            {
                "trace.cold_s": walls[0],
                "trace.warm_s": warm_s,
                "host.steal_s": steal,
                "host.tree_cpu_s": cpu_s,
                "host.peak_rss_mb": rss.peak / 2**20,
            }
        )
        units = layers.UNITS
        record["spans"] = [sp.__dict__ for sp in tracer.spans]
    else:
        metrics = {
            "setup_s": session_s + setup_s,
            "cold_s": walls[0],
            "warm_s": warm_s,
            "triples_precision": result.get("precision", 0.0),
            "triples_recall": result.get("recall", 0.0),
        }
        units = END_TO_END_UNITS
    print(json.dumps(record, default=str), file=sys.stderr)
    for k in sorted(metrics):
        print(f"{k} = {metrics[k]:.6g} {units[k]}")
    print(f"failed_share = {failed}/{attempted} = {failed / attempted:.6g} share")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "triples_precision": "share",
    "triples_recall": "share",
}


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
