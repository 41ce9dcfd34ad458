"""Per-stage checkpoint/resume manager (north_rule: "checkpoint-resumable
per stage").

Spark analog of the reference's embedding cache memoization
(/root/reference/search/bert_search.py:41-47,149-157: try-load, else compute
and save).  Each stage's output is a table under the run root; ``get_or_run``
reads it if complete, else computes, writes, and re-reads (so downstream
always consumes the materialized table — this is also what truncates lineage
between stages and makes each stage an independent job).  The re-read after
a fresh write passes the schema the stage just wrote, so it launches no
parquet-footer job; only a resumed table has its schema inferred, which the
schema guard needs.

A ``manifest.json`` under the run root records completed stages for
observability; completeness itself is judged by the table's _SUCCESS marker
(atomic with the write), so a killed run resumes correctly.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from . import catalog


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True) if "://" not in self.root else None

    def location(self, stage: str) -> str:
        if catalog.table_format() == "iceberg":
            return f"{self.root}.{stage}"  # root is a catalog.namespace
        return f"{self.root}/{stage}"

    def exists(self, stage: str) -> bool:
        return catalog.table_exists(self.spark, self.location(stage))

    def get_or_run(
        self,
        stage: str,
        fn,
        partition_by: list[str] | None = None,
        force: bool = False,
        schema=None,
    ) -> DataFrame:
        """Return the stage table, computing it via ``fn() -> DataFrame`` only
        if absent (or ``force``).

        ``schema`` (a StructType) guards resume across format changes: a
        checkpoint written by an older code version whose columns/types no
        longer match is recomputed instead of silently resumed (ADVICE.md:
        round 1 added the packed 'firsts' array and replaced the triples
        'evidence' string with an int 'line'; resuming an old run_root
        either crashed downstream or silently served the old schema)."""
        loc = self.location(stage)
        if not force and self.exists(stage):
            df = catalog.read_table(self.spark, loc)
            if schema is None or self._schema_ok(df, schema):
                return df
        t0 = time.time()
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs
        before = set(persisted().keySet())
        df = fn()
        catalog.write_table(df, loc, partition_by=partition_by)
        # the stage's own checkpoints and caches (valve hot keys, canonical
        # edge and round checkpoints) are dead once the table is written:
        # downstream reads the table, not the stage's plan
        now = persisted()
        for rdd_id in set(now.keySet()) - before:
            now.get(rdd_id).unpersist(False)
        self._record(stage, time.time() - t0)
        return catalog.read_table(self.spark, loc, schema=df.schema)

    @staticmethod
    def _schema_ok(df: DataFrame, schema) -> bool:
        """Name->type equality, order- and nullability-insensitive (a
        partitioned write moves partition columns to the end; parquet read
        relaxes nullability)."""
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        want = {f.name: f.dataType.simpleString() for f in schema.fields}
        return got == want

    # ------------------------------------------------------------ manifest
    def _manifest_path(self) -> str:
        return f"{self.root}/manifest.json"

    def _record(self, stage: str, secs: float) -> None:
        if "://" in self.root:
            return  # object-store manifest writing is a cluster concern
        m = self.manifest()
        m[stage] = {"completed_at": time.time(), "secs": round(secs, 3)}
        with open(self._manifest_path(), "w") as f:
            json.dump(m, f, indent=2)

    def manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}
