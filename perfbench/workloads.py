"""The benchmark workloads.  Each one owns its input (made in ``setup`` from
the seed), one timed ``run_pass``, the untimed correctness ``check`` and the
span names the traced run wraps around its layers.

A workload's ``run_pass`` returns a checksum of the pass's output; every
pass of a run must return the same one.
"""

from __future__ import annotations

import contextlib
import inspect
import os
import shutil

from pyspark.sql import functions as F

import inputs
import reference
from kgforge import catalog, pipeline, synth, valvemetrics
from kgforge.checkpoint import CheckpointManager
from kgforge.operators import codegraph, graph
from kgforge.oracle import twin
from kgforge.stages import canonical, embed, link, materialize, mentions


def checksum(df, cols: list[str]) -> tuple[int, int]:
    """(row count, bit_xor of the row hashes): order-insensitive; double
    columns are rounded to FLOAT_DIGITS first."""
    types = dict(df.dtypes)
    keys = [F.round(c, FLOAT_DIGITS) if types[c] == "double" else F.col(c) for c in cols]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*keys)), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


# get_or_run stage name -> layer name
STAGE_LAYERS = {
    "mentions": "stages.mentions",
    "entity_embeddings": "stages.embed",
    "candidate_links": "stages.link",
    "entities": "stages.canonical",
    "triples": "stages.materialize",
    "metrics": "stages.metrics",
}


class Build:
    """One pass = ``run_pipeline`` from the files table into a fresh run
    root, ending with a committed triples table."""

    kind = "build"
    # two warm passes: a third adds ~10 s to a ~60 s run, and the time
    # budget allows ~71 s a run (perfbench/README.md)
    min_warm = 2

    def __init__(self, spark, seed: int, work: str, n_files: int):
        self.spark, self.seed, self.work, self.n_files = spark, seed, work, n_files
        self.files = None
        self.roots: list[str] = []
        self.info: dict = {"files": n_files}

    def setup(self) -> None:
        path = os.path.join(self.work, "input")
        synth.synth_files_df(self.spark, self.n_files, self.seed).write.parquet(path)
        self.files = self.spark.read.parquet(path)
        if self.files.count() != self.n_files:
            raise RuntimeError("input materialization lost rows")

    def run_pass(self, i: int):
        root = os.path.join(self.work, "runs", f"p{i}")
        out = pipeline.run_pipeline(self.spark, self.files, root)
        self.last = out
        self.roots.append(root)
        return root

    def pass_checksum(self, root) -> tuple[int, int]:
        cs = checksum(catalog.read_table(self.spark, f"{root}/triples"), ["subj", "pred", "obj", "line"])
        # keep the newest root: it serves the resume rerun; older roots are
        # no longer read by any DataFrame once their checksum is taken
        for old in self.roots[:-1]:
            shutil.rmtree(old, ignore_errors=True)
        self.roots = self.roots[-1:]
        return cs

    def resume(self) -> str:
        """Rerun onto the last completed root; returns the root."""
        root = self.roots[-1]
        self.last = pipeline.run_pipeline(self.spark, self.files, root)
        return root

    def check(self) -> dict:
        """P/R of the last pass's triples against the pandas twin, plus
        the sizes and the paths the run took."""
        out = self.last
        got = reference.triple_keys(out["triples"].select("subj", "pred", "obj").toPandas())
        want_df = twin.twin_triples(synth.synth_files_pdf(self.n_files, self.seed))
        p, r, inter = reference.precision_recall(got, reference.triple_keys(want_df))
        n_ent = out["entities"].count()
        n_links = out["candidate_links"].count()
        local_max = inspect.signature(canonical.connected_components).parameters["local_threshold"].default
        dropped = sum(int(m.get("dropped_rows", 0)) for m in valvemetrics.LAST.values())
        self.info.update(
            triples=len(got),
            reference_triples=len(want_df),
            matched_triples=inter,
            embedded_entities=out["entity_embeddings"].count(),
            links=n_links,
            canonical_rows=n_ent,
            canonical_path="driver_union_find" if n_links <= local_max else "distributed_rounds",
            materialize_path="literal_map" if n_ent <= materialize.MAP_LITERAL_MAX else "broadcast_join",
            valve_dropped_rows=dropped,
        )
        counts = {
            "pipeline.triples": len(got),
            "pipeline.entities": self.info["embedded_entities"],
            "pipeline.links": n_links,
            "pipeline.canonical_rows": n_ent,
            "valvemetrics.dropped_rows": dropped,
        }
        return {"precision": p, "recall": r, "counts": counts}

    def install_spans(self, tracer) -> None:
        tracer.wrap(CheckpointManager, "get_or_run", lambda _self, stage, *a, **k: f"checkpoint.get_or_run:{stage}")
        tracer.wrap(catalog, "write_table", lambda *a, **k: "catalog.write_table")
        tracer.wrap(catalog, "read_table", lambda *a, **k: "catalog.read_table")
        for owner, attr, name in (
            (mentions, "extract_mentions_packed", "stages.mentions"),
            (embed, "embed_mentions", "stages.embed"),
            (link, "candidate_links", "stages.link"),
            (canonical, "connected_components", "stages.canonical"),
            (materialize, "triples_from_packed", "stages.materialize"),
        ):
            tracer.wrap(owner, attr, lambda *a, _n=name, **k: _n)


# (layer name, kernel over the triples table, output columns)
KERNELS = [
    ("operators.codegraph.call_graph", lambda t: codegraph.call_graph(t), ["caller", "callee", "n_fns"]),
    ("operators.codegraph.api_fanin", lambda t: codegraph.api_fanin(t), ["obj", "n_callers", "n_defs"]),
    ("operators.codegraph.module_deps", lambda t: codegraph.module_deps(t), ["src_repo", "dst_repo", "n_imports", "n_modules"]),
    ("operators.graph.pagerank", lambda t: graph.pagerank(graph.triple_edges(t)), ["node", "r"]),
]
# digits a float result column is rounded to in the checksum and the
# reference comparison: two engines' sums differ in the last bits
FLOAT_DIGITS = 9


class Consumers:
    """One pass = read the partitioned triples table, then run every
    consumer kernel with its production defaults, each forced by an
    aggregate over its full output."""

    kind = "consumers"
    # the first warm pass still runs ~15% slow; with three, the median is
    # a settled pass
    min_warm = 3

    def __init__(self, spark, seed: int, work: str, n_files: int):
        self.spark, self.seed, self.work, self.n_files = spark, seed, work, n_files
        self.info: dict = {"files": n_files}
        self.tracer = None

    def setup(self) -> None:
        self.location = os.path.join(self.work, "triples")
        catalog.write_table(
            inputs.consumer_triples(self.spark, self.n_files, self.seed), self.location, partition_by=["pred"]
        )

    def _span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def run_pass(self, i: int):
        tri = catalog.read_table(self.spark, self.location)
        sums, self.outputs = [], {}
        for name, fn, cols in KERNELS:
            with self._span(name):
                out = fn(tri)
                sums.append(checksum(out, cols))
            self.outputs[name] = out
        return tuple(sums)

    def pass_checksum(self, sums):
        return sums

    def check(self) -> dict:
        """Row-level P/R of the last pass's kernel outputs against the
        independent references, pooled over kernels.  Collecting re-runs
        only the lazy tail of each output: the iterative kernels
        checkpoint their state inside the call."""
        tri = catalog.read_table(self.spark, self.location)
        tp = tri.select("subj", "pred", "obj").toPandas()
        cg = reference.call_graph(tp)
        refs = {
            "operators.codegraph.call_graph": lambda: cg,
            "operators.codegraph.api_fanin": lambda: reference.api_fanin(tp),
            "operators.codegraph.module_deps": lambda: reference.module_deps(tp),
            "operators.graph.pagerank": lambda: reference.pagerank(tp, graph.PR_ITERS, graph.DAMPING),
        }
        got, want = set(), set()
        per_kernel = {}
        for name, _, cols in KERNELS:
            g = {(name,) + k for k in reference.row_keys(self.outputs[name].toPandas(), cols, FLOAT_DIGITS)}
            w = {(name,) + k for k in reference.row_keys(refs[name](), cols, FLOAT_DIGITS)}
            per_kernel[name] = len(g & w) == len(g) == len(w)
            got |= g
            want |= w
        p, r, inter = reference.precision_recall(got, want)
        self.info.update(
            triples=len(tp),
            call_graph_edges=len(cg),
            result_rows=len(got),
            reference_rows=len(want),
            kernels_exact=per_kernel,
        )
        return {"precision": p, "recall": r, "counts": {"operators.triples": len(tp)}}

    def install_spans(self, tracer) -> None:
        self.tracer = tracer
        tracer.wrap(catalog, "write_table", lambda *a, **k: "catalog.write_table")
        tracer.wrap(catalog, "read_table", lambda *a, **k: "catalog.read_table")


def make(name: str, spark, seed: int, work: str):
    if name == "build_fixed_vocab":
        return Build(spark, seed, work, n_files=FIXED_VOCAB_FILES)
    if name == "kg_consumers":
        return Consumers(spark, seed, work, n_files=CONSUMER_FILES)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("build_fixed_vocab", "kg_consumers")
FIXED_VOCAB_FILES = 800
CONSUMER_FILES = 300
