"""Per-layer metrics of a traced run: the spans of each pass folded with
the event log's task metrics.  Timings are medians over the warm passes;
``cold_extra_s`` is the cold pass's excess over that median.

Every metric below is printed on every traced run.  A layer a workload
never enters reads 0 there (for example the pipeline stages on
``kg_consumers``).
"""

from __future__ import annotations

import statistics

from tracing import span_stats
from workloads import KERNELS, STAGE_LAYERS

_MB = 1024.0 * 1024.0
STAGE_FIELDS = {
    "wall_s": "s",
    "cpu_s": "s",
    "task_s": "s",
    "driver_gap_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "python_s": "s",
    "arrow_mb": "MB",
    "cold_extra_s": "s",
}
KERNEL_FIELDS = {"wall_s": "s", "jobs": "count", "driver_gap_s": "s", "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}


def _units() -> dict[str, str]:
    u = {}
    for layer in STAGE_LAYERS.values():
        for f, unit in STAGE_FIELDS.items():
            u[f"{layer}.{f}"] = unit
    u.update(
        {
            "pipeline.pass_s": "s",
            "pipeline.driver_gap_s": "s",
            "pipeline.unspanned_s": "s",
            "pipeline.triples": "count",
            "pipeline.entities": "count",
            "pipeline.links": "count",
            "pipeline.canonical_rows": "count",
            "valvemetrics.dropped_rows": "count",
            "checkpoint.self_s": "s",
            "checkpoint.resume_jobs": "count",
            "checkpoint.resume_s": "s",
            "catalog.write_s": "s",
            "catalog.write_mb": "MB",
            "catalog.read_s": "s",
            "catalog.input_mb": "MB",
        }
    )
    for name, _, _ in KERNELS:
        for f, unit in KERNEL_FIELDS.items():
            u[f"{name}.{f}"] = unit
    u.update(
        {
            "operators.pass_s": "s",
            "operators.driver_gap_s": "s",
            "operators.triples": "count",
            "trace.cold_s": "s",
            "trace.warm_s": "s",
            "host.steal_s": "s",
            "host.tree_cpu_s": "s",
            "host.peak_rss_mb": "MB",
        }
    )
    return u


UNITS = _units()


def _fields(st: dict) -> dict:
    return {
        "wall_s": st["wall_s"],
        "cpu_s": st["cpu_s"],
        "task_s": st["task_covered_s"],
        "driver_gap_s": st["driver_gap_s"],
        "shuffle_mb": (st["shuffle_read_b"] + st["shuffle_write_b"]) / _MB,
        "spill_mb": st["spill_b"] / _MB,
        "gc_s": st["gc_s"],
        "python_s": st["py_s"],
        "arrow_mb": (st["py_sent_b"] + st["py_returned_b"]) / _MB,
        "jobs": st["jobs"],
    }


def pass_metrics(tracer, groups, pass_sid: int, kids) -> dict[str, float]:
    """Layer metrics of one pass span."""
    out: dict[str, float] = {}
    spans = tracer.spans
    sub = [spans[s] for s in tracer.subtree(pass_sid, kids) if s != pass_sid]
    whole = span_stats(tracer, groups, pass_sid, kids)
    stage_wall = 0.0
    ck_self = w_s = w_b = r_s = 0.0
    for sp in sub:
        if sp.name.startswith("checkpoint.get_or_run:"):
            layer = STAGE_LAYERS.get(sp.name.split(":", 1)[1])
            if layer is None:
                continue
            for f, v in _fields(span_stats(tracer, groups, sp.sid, kids)).items():
                if f"{layer}.{f}" in UNITS:
                    out[f"{layer}.{f}"] = v
            stage_wall += sp.wall
            ck_self += sp.wall - sum(spans[c].wall for c in kids.get(sp.sid, []))
        elif sp.name == "catalog.write_table":
            w_s += sp.wall
            w_b += span_stats(tracer, groups, sp.sid, kids)["output_b"]
        elif sp.name == "catalog.read_table":
            r_s += sp.wall
        elif sp.name.startswith("operators."):
            for f, v in _fields(span_stats(tracer, groups, sp.sid, kids)).items():
                if f in KERNEL_FIELDS:
                    out[f"{sp.name}.{f}"] = v
    prefix = "pipeline" if stage_wall else "operators"
    out[f"{prefix}.pass_s"] = whole["wall_s"]
    out[f"{prefix}.driver_gap_s"] = whole["driver_gap_s"]
    if stage_wall:
        out["pipeline.unspanned_s"] = whole["wall_s"] - stage_wall
        out["checkpoint.self_s"] = ck_self
    out.update({"catalog.write_s": w_s, "catalog.write_mb": w_b / _MB, "catalog.read_s": r_s})
    out["catalog.input_mb"] = whole["input_b"] / _MB
    return out


def layer_metrics(tracer, groups, pass_sids: list[int]) -> dict[str, float]:
    """Median over warm passes of every pass metric, plus each stage's
    cold excess; absent metrics read 0."""
    kids = tracer.children()
    per_pass = [pass_metrics(tracer, groups, s, kids) for s in pass_sids]
    cold, warm = per_pass[0], per_pass[1:] or per_pass
    out = {k: 0.0 for k in UNITS}
    for k in set().union(*warm):
        out[k] = statistics.median(p.get(k, 0.0) for p in warm)
    for layer in STAGE_LAYERS.values():
        if f"{layer}.wall_s" in cold:
            out[f"{layer}.cold_extra_s"] = cold[f"{layer}.wall_s"] - out[f"{layer}.wall_s"]
    return out
